"""Scrape-pipeline schemas (FIXTURES.md §A).

The reference lets pandas infer a per-batch schema from whatever fields
the page yielded (test_parquet_processor.py:394) and merges divergent
schemas downstream with pd.concat (test_parquet_aggregator.yml:151).
At 100 TB that's schema drift; we declare ONE wide nullable StructType
up front (union of the per-media-type field catalogs,
test_parquet_processor.py:79-130) and the fetch stage emits nulls for
absent fields. Inference cost: zero; drift: impossible.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Manifest: JSON array of records; only `url` is consumed
# (test_parquet_processor.py:426-429).
MANIFEST_SCHEMA = T.StructType([T.StructField("url", T.StringType(), True)])

# Base field catalog (test_parquet_processor.py:81-101), names already
# normalized (lower, spaces→_, parens stripped — :255).
BASE_FIELDS = (
    "media_id",
    "media_type",
    "object_element_or_part",
    "object_represented",
    "object_taxonomy",
    "object_organization",
    "side",
    "orientation",
    "short_description",
    "full_description",
    "creator",
    "date_created",
    "date_uploaded",
    "data_managed_by",
    "data_uploaded_by",
    "publication_status",
    "download_reviewer",
    "ip_holder",
    "copyright_statement",
    "creative_commons_license",
    "morphosource_use_agreement_type",
    "permits_commercial_use",
    "permits_3d_use",
    "required_archival_of_published_derivatives",
    "funding_attribution",
    "publisher",
    "cite_as",
    "media_preview_mode",
    "additional_usage_agreement",
    "morphosource_ark",
    "morphosource_doi",
    "external_identifier",
    "external_media_url",
)

# Extras for `volumetric image series` (:103-115).
VOLUMETRIC_FIELDS = (
    "file_name",
    "file_formats",
    "file_size",
    "image_width",
    "image_height",
    "color_space",
    "color_depth",
    "compression",
    "x_pixel_spacing",
    "y_pixel_spacing",
    "z_pixel_spacing",
    "pixel_spacing_units",
    "slice_thickness",
    "number_of_images_in_set",
    "number_of_parent_media",
    "number_of_processing_events",
    "modality",
    "device",
)

# Extras for `mesh` (:116-128).
MESH_FIELDS = (
    "file_name",
    "file_formats",
    "file_size",
    "points",
    "polygons",
    "map_type",
    "uv_coordinates",
    "vertex_color",
    "bounding_box_dimensions",
    "centroid_coordinates",
    "units_of_point_coordinates",
    "number_of_parent_media",
    "number_of_processing_events",
    "derived_directly_from",
    "modality",
    "device",
)

ALL_METADATA_FIELDS: tuple[str, ...] = tuple(
    dict.fromkeys(BASE_FIELDS + VOLUMETRIC_FIELDS + MESH_FIELDS)
)


def scrape_schema() -> T.StructType:
    """Wide record schema: control columns (test_parquet_processor.py:220-224,
    303-305) + union of all metadata catalogs, all nullable strings."""
    fields = [
        T.StructField("url", T.StringType(), False),
        T.StructField("processed_at", T.TimestampType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("batch_index", T.LongType(), True),
        T.StructField("attempt", T.IntegerType(), True),
        T.StructField("processing_time", T.DoubleType(), True),
    ]
    fields += [T.StructField(name, T.StringType(), True) for name in ALL_METADATA_FIELDS]
    return T.StructType(fields)


# Required downstream contract (evaluate_test_run.py:24-29).
REQUIRED_COLUMNS = ("url", "processing_time", "error", "batch_index")

# Aggregator statistics record (test_parquet_aggregator.yml:169-176).
STATS_SCHEMA = T.StructType(
    [
        T.StructField("total_records", T.LongType(), True),
        T.StructField("files_combined", T.LongType(), True),
        T.StructField("avg_processing_time", T.DoubleType(), True),
        T.StructField("total_processing_time", T.DoubleType(), True),
        T.StructField("media_types", T.MapType(T.StringType(), T.LongType()), True),
        T.StructField(
            "source_files",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("file", T.StringType(), True),
                        T.StructField("records", T.LongType(), True),
                        T.StructField("size", T.LongType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)
