"""The fetch stage: mapInPandas web-scrape analog (SURVEY.md §2.11 X1-X3).

Reference behavior being re-expressed (test_parquet_processor.py):
- per-URL fetch + media-type-dependent field extraction (:218-266)
- per-record retry (≤2 attempts, 1 s backoff) and 10 s timeout
  (:274-275,294-350), driver reset on failure (:323-328)
- dead-letter records for skipped URLs (:338-348)

Spark-first shape: the URL manifest is a DataFrame; the fetch runs as
ONE ``mapInPandas`` stage over Arrow batches, with the transport
injected so tests (and this container) never touch the network. Task
parallelism replaces the coordinator's worker fan-out; Spark task retry
(spark.task.maxFailures) replaces runner replacement; the in-UDF
per-record retry/timeout replicates the reference's per-record policy.

Records that fail extraction come back with ``error`` set (success
rows have error IS NULL) — the caller splits them into the dead-letter
sink (pipeline/run.py). This keeps the stage total: one input row in,
exactly one output row out, which is what makes the pipeline resumable
and idempotent under task retry.
"""

from __future__ import annotations

import re
import time
import urllib.parse
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame

from parquet_processor_spark.pipeline.schemas import (
    ALL_METADATA_FIELDS,
    BASE_FIELDS,
    MESH_FIELDS,
    VOLUMETRIC_FIELDS,
    scrape_schema,
)

# X3: field-catalog provider (test_parquet_processor.py:79-130).
FIELD_CATALOGS: dict[str, tuple[str, ...]] = {
    "base": BASE_FIELDS,
    "volumetric image series": BASE_FIELDS + VOLUMETRIC_FIELDS,
    "mesh": BASE_FIELDS + MESH_FIELDS,
}


def get_fields_for_type(media_type: str | None) -> tuple[str, ...]:
    return FIELD_CATALOGS.get((media_type or "").lower(), BASE_FIELDS)


# Transport: url -> raw page payload (dict of field -> value), raising on
# failure. Injectable; the default refuses network access loudly.
Transport = Callable[[str], dict[str, str]]


def no_network_transport(url: str) -> dict[str, str]:
    raise NotImplementedError(
        "live fetch requires a browser/network transport; inject one (tests use fake_transport)"
    )


def _require_http(url: str) -> None:
    """Refuse every URL scheme but http(s): manifest rows are untrusted
    input, and a transport would otherwise happily read file:// (local
    filesystem into the output parquet) or ftp:// targets."""
    scheme = urllib.parse.urlsplit(url).scheme.lower()
    if scheme not in ("http", "https"):
        raise ValueError(f"refusing non-http(s) URL scheme {scheme!r}: {url}")


_META = re.compile(
    r"<meta\s+(?:name|property)=[\"']([^\"']+)[\"']\s+content=[\"']([^\"']*)[\"']",
    re.IGNORECASE,
)
_TITLE = re.compile(r"<title>([^<]*)</title>", re.IGNORECASE)


def _meta_fields(html: str, page: dict[str, str]) -> dict[str, str]:
    """Add the page's ``<meta name|property= content=>`` pairs (an
    OpenGraph ``og:`` prefix stripped) and its ``<title>`` to ``page``,
    never overwriting a field already there; returns ``page``."""
    for m in _META.finditer(html):
        page.setdefault(m.group(1).removeprefix("og:"), m.group(2))
    title = _TITLE.search(html)
    if title:
        page.setdefault("title", title.group(1).strip())
    return page


def make_urllib_transport(
    timeout_s: float = 10.0,
    user_agent: str = "parquet-processor-spark/1.0",
) -> Transport:
    """Default live transport on stdlib urllib — no browser needed.

    The reference drives headless Chrome per page
    (test_parquet_processor.py:40-77,218-266); for metadata pages the
    fields it scrapes are plain document content, so a plain HTTP GET
    covers them:

    - a JSON response (``application/json``) is taken as the field
      dict directly (values coerced to str, nulls dropped);
    - an HTML response is mined for ``<meta name= content=>`` /
      OpenGraph ``<meta property="og:x">`` pairs plus ``<title>``.

    Any HTTP error / timeout / parse failure raises, which the fetch
    stage's retry + dead-letter policy (make_fetcher) absorbs — same
    policy the reference applies around its driver (:274-350).

    Only http(s) URLs are accepted (:func:`_require_http`).

    The closure is serialized to executors by Spark; it touches only
    the stdlib and this module's parsing helpers.
    """

    def transport(url: str) -> dict[str, str]:
        import json as _json
        import urllib.request as _request

        _require_http(url)
        req = _request.Request(url, headers={"User-Agent": user_agent})
        with _request.urlopen(req, timeout=timeout_s) as resp:  # noqa: S310 — caller-supplied URL is the point
            ctype = (resp.headers.get("Content-Type") or "").lower()
            body = resp.read()
        if "json" in ctype:
            data = _json.loads(body.decode("utf-8"))
            if not isinstance(data, dict):
                raise ValueError(f"JSON page is not an object: {url}")
            return {str(k): str(v) for k, v in data.items() if v is not None}
        page = _meta_fields(body.decode("utf-8", errors="replace"), {})
        if not page:
            raise ValueError(f"no extractable metadata fields at {url}")
        return page

    return transport


#: Ready-to-use live transport with the reference's 10 s record timeout.
urllib_transport: Transport = make_urllib_transport()


def _extract_rendered_fields(html: str) -> dict[str, str]:
    """Field extraction from RENDERED page HTML — the browser analog of
    the reference's XPath walk (test_parquet_processor.py:218-266): a
    ``field-name`` (standard layout) or ``showcase-label`` (showcase
    layout) div's text names the field, the next div's text is the
    value; field names normalize the same way the reference does
    (lower, spaces→underscores, parens stripped). <meta>/<title> pairs
    are merged in as a fallback so static pages behave exactly like
    the urllib transport."""
    page: dict[str, str] = {}
    for m in re.finditer(
        r"<div[^>]*class=[\"'][^\"']*(?:field-name|showcase-label)[^\"']*[\"'][^>]*>"
        r"\s*([^<]+?)\s*</div>\s*<div[^>]*>\s*([^<]*?)\s*</div>",
        html,
        re.IGNORECASE,
    ):
        key = m.group(1).lower().replace(" ", "_").replace("(", "").replace(")", "")
        page.setdefault(key, m.group(2).split("\n")[0].strip())
    return _meta_fields(html, page)


def make_browser_transport(
    driver_factory: Callable[[], object] | None = None,
    page_load_timeout_s: float = 10.0,
) -> Transport:
    """Browser-grade transport for JS-rendered pages (VERDICT r2 gap #2).

    The urllib transport covers static HTML/JSON; pages that build
    their DOM client-side need a real browser. This variant drives one
    through the same ``Transport`` seam: navigate, take the rendered
    ``page_source``, extract the reference's field-name/showcase
    label-value pairs plus <meta>/<title>.

    ``driver_factory`` is injectable (tests pass a fake); the default
    imports selenium lazily and raises a clear error when it isn't
    installed — this sandbox has no browser, so the default path is
    exercised only by the import-gate test. One driver is created
    lazily PER PYTHON WORKER and reused across that worker's URLs
    (drivers are expensive; mapInPandas batches amortize it), mirroring
    the reference's one-driver-per-run setup (:40-77).
    """

    state: dict[str, object] = {}

    def default_factory() -> object:
        try:
            from selenium import webdriver
            from selenium.webdriver.chrome.options import Options
        except ImportError as e:  # pragma: no cover - exercised via gate test
            raise ImportError(
                "browser transport needs selenium installed; use "
                "urllib_transport for static pages or inject a driver_factory"
            ) from e
        opts = Options()
        for arg in ("--headless", "--no-sandbox", "--disable-dev-shm-usage", "--disable-gpu"):
            opts.add_argument(arg)
        driver = webdriver.Chrome(options=opts)
        driver.set_page_load_timeout(page_load_timeout_s)
        return driver

    def transport(url: str) -> dict[str, str]:
        _require_http(url)
        driver = state.get("driver")
        if driver is None:
            driver = (driver_factory or default_factory)()
            state["driver"] = driver
        driver.get(url)  # type: ignore[attr-defined]
        page = _extract_rendered_fields(driver.page_source)  # type: ignore[attr-defined]
        if not page:
            raise ValueError(f"no extractable metadata fields at {url}")
        return page

    return transport


def fake_transport(url: str) -> dict[str, str]:
    """Deterministic fake page: media type and fields derived from the URL.

    URLs containing an even trailing id present as volumetric, odd as
    mesh; ids divisible by 17 simulate a fetch failure (to exercise
    retry + dead-letter).
    """
    digits = "".join(ch for ch in url if ch.isdigit()) or "0"
    ident = int(digits) % 10**9
    if ident % 17 == 0:
        raise TimeoutError(f"simulated timeout for {url}")
    media_type = "volumetric image series" if ident % 2 == 0 else "mesh"
    page = {
        "media_id": str(ident),
        "media_type": media_type,
        "object_taxonomy": f"taxon_{ident % 50}",
        "creator": f"creator_{ident % 7}",
        "publication_status": "open" if ident % 3 else "restricted",
    }
    if media_type == "volumetric image series":
        page.update(
            {
                "file_size": str(1000 + ident % 5000),
                "image_width": str(512 + ident % 512),
                "image_height": str(512 + ident % 512),
                "modality": "MicroCT",
            }
        )
    else:
        page.update(
            {
                "points": str(10_000 + ident % 90_000),
                "polygons": str(20_000 + ident % 180_000),
                "modality": "Mesh",
            }
        )
    return page


def make_fetcher(
    transport: Transport,
    max_attempts: int = 2,
    record_timeout_s: float = 10.0,
    backoff_s: float = 0.0,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build the mapInPandas function: (url, batch_index) batches in,
    wide scrape-schema batches out. Mirrors the reference's retry loop
    (test_parquet_processor.py:294-350) per record, inside the executor."""

    columns = [f.name for f in scrape_schema().fields]

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                start = time.monotonic()
                row: dict[str, object] = {c: None for c in columns}
                row["url"] = rec.url
                row["batch_index"] = int(rec.batch_index)
                row["processed_at"] = pd.Timestamp.utcnow().tz_localize(None)
                error: str | None = None
                attempt = 0
                page: dict[str, str] | None = None
                while attempt < max_attempts:
                    attempt += 1
                    try:
                        page = transport(rec.url)
                        break
                    except Exception as exc:  # noqa: BLE001 — dead-letter any failure
                        error = f"{type(exc).__name__}: {exc}"
                        if time.monotonic() - start > record_timeout_s:
                            error = f"timeout after {attempt} attempts: {error}"
                            break
                        if backoff_s and attempt < max_attempts:
                            time.sleep(backoff_s)
                if page is not None:
                    media_type = page.get("media_type")
                    for field in get_fields_for_type(media_type):
                        if field in page:
                            row[field] = page[field]
                    error = None
                row["error"] = error
                row["attempt"] = attempt
                row["processing_time"] = time.monotonic() - start
                rows.append(row)
            yield pd.DataFrame(rows, columns=columns)

    return fetch


def fetch_stage(urls: DataFrame, transport: Transport, **kwargs) -> DataFrame:
    """urls: DataFrame[url string, batch_index long] → wide scrape records."""
    return urls.select("url", "batch_index").mapInPandas(
        make_fetcher(transport, **kwargs), scrape_schema()
    )


__all__ = [
    "ALL_METADATA_FIELDS",
    "FIELD_CATALOGS",
    "fake_transport",
    "fetch_stage",
    "get_fields_for_type",
    "make_fetcher",
    "make_urllib_transport",
    "no_network_transport",
    "urllib_transport",
]
