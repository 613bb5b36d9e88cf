"""Paginated JSON:API source as a Spark 4 Python Data Source.

The reference walks the Planning Center REST API page by page in a
single-threaded driver loop (`pco.iterate`, /root/reference/dags/tasks/
planning_center.py:17,28-32) and then issues three more HTTP calls per
person (the N+1 anti-pattern, :34,42-43).  The Spark-native answer is a
DataSource whose partitions ARE page ranges: the driver lists (or
probes) the page space once, then every executor fetches and parses its
own pages in parallel — 1000 executors = 1000 concurrent page readers,
and everything downstream (filter/join/derive) is ordinary Catalyst.

Two modes, same schema and row shape:

- ``option("path", dir)``  — reads JSON:API documents from a directory
  of page files (`page-*.json`): the offline/test representation and
  the on-disk cache layout a production fetcher would write.
- ``option("url", base)``  — LIVE mode: the driver probes page 1 for
  ``meta.total_count`` and plans one partition per page offset; every
  executor GETs its own pages (stdlib urllib, retry with exponential
  backoff, 429 Retry-After honored — the same rate-limit semantics
  pypco implements for the reference).  When the API doesn't report a
  total count, the reader degrades to a single partition walking
  ``links.next`` serially — exactly the reference's `pco.iterate` loop,
  but contained in one task instead of the whole job.
  Auth: ``option("auth", "app_id:secret")`` (HTTP Basic, the PCO
  convention) or ``option("bearer_token", t)``.

Rows are emitted in the generic JSON:API envelope shape — nested
payloads stay JSON strings so the engine's own extraction operators
(get_json_object / from_json dot-paths, SURVEY.md §2.2 P4) do the
typed extraction declaratively:

    id STRING, type STRING, attributes STRING (json),
    relationships STRING (json), link_self STRING, page INT
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

JSONAPI_SCHEMA = StructType(
    [
        StructField("id", StringType(), True),
        StructField("type", StringType(), True),
        StructField("attributes", StringType(), True),
        StructField("relationships", StringType(), True),
        StructField("link_self", StringType(), True),
        StructField("page", IntegerType(), False),
    ]
)


class JsonApiPagePartition(InputPartition):
    def __init__(self, page_no: int, path: str):
        self.page_no = page_no
        self.path = path


class JsonApiHttpPartition(InputPartition):
    def __init__(self, page_no: int, offset: int, serial: bool = False):
        self.page_no = page_no
        self.offset = offset
        # serial=True: this single partition walks links.next itself
        # (the flag must live on the PARTITION — the reader object the
        # executor unpickles is a pre-partitions() copy, so driver-side
        # attribute mutations never reach read())
        self.serial = serial


def _auth_headers(options: dict) -> dict:
    """Authorization header from options: `auth="app_id:secret"` (HTTP
    Basic — the PCO personal-access-token convention, reference
    planning_center.py passes application_id/secret to pypco) or
    `bearer_token` (OAuth)."""
    import base64

    auth = options.get("auth")
    if auth:
        tok = base64.b64encode(auth.encode()).decode()
        return {"Authorization": f"Basic {tok}"}
    bearer = options.get("bearer_token")
    if bearer:
        return {"Authorization": f"Bearer {bearer}"}
    return {}


# Hard ceiling on any server-controlled sleep: the header is untrusted
# input, and a Spark task that sleeps for hours on a malicious
# Retry-After ('inf', 1e12, a far-future HTTP-date) is a denial of
# service on the whole stage.  PCO's real rate-limit window is 20s.
_MAX_RETRY_AFTER_S = 300.0


def _retry_after_seconds(retry_after: str | None, fallback: float) -> float:
    """Parse a Retry-After header.  RFC 7231 allows EITHER delta-seconds
    OR an HTTP-date; a non-numeric value must fall back to exponential
    backoff rather than raise inside the retry handler.  The result is
    clamped to [0, _MAX_RETRY_AFTER_S] — the server is untrusted and
    must not be able to hang a task indefinitely."""
    import math

    if not retry_after:
        return fallback
    try:
        secs = float(retry_after)
        if not math.isfinite(secs):
            return fallback
        return min(max(0.0, secs), _MAX_RETRY_AFTER_S)
    except ValueError:
        pass
    try:
        from email.utils import parsedate_to_datetime
        import datetime as _dt

        when = parsedate_to_datetime(retry_after)
        if when.tzinfo is None:
            when = when.replace(tzinfo=_dt.timezone.utc)
        delta = (when - _dt.datetime.now(_dt.timezone.utc)).total_seconds()
        return min(max(0.0, delta), _MAX_RETRY_AFTER_S)
    except (ValueError, TypeError, OverflowError):
        return fallback


def _safe_next_url(base_url: str, next_url: str, headers: dict):
    """Validate a server-supplied ``links.next`` URL before following it.

    The API controls this value, so treat it as untrusted: only
    http/https may be fetched (urllib would happily open file:// or
    ftp://, turning a compromised API into an SSRF/credential-exfil
    primitive), and the Authorization header is forwarded ONLY to the
    same origin (scheme, host, port) as the configured base url.
    Returns (next_url, headers_to_use); raises on a non-http scheme."""
    from urllib.parse import urlsplit

    nxt = urlsplit(next_url)
    if nxt.scheme not in ("http", "https"):
        raise ValueError(
            f"pco_jsonapi: refusing non-http links.next {next_url!r}"
        )
    base = urlsplit(base_url)
    if base.scheme not in ("http", "https"):
        # a typo'd/bare base_url must be a clear one-time config error,
        # not a KeyError raised per next-link (reader __init__ also
        # validates, so this is belt-and-braces for direct callers)
        raise ValueError(
            f"pco_jsonapi: unsupported base url scheme in {base_url!r} "
            "(only http/https)"
        )
    default_port = {"http": 80, "https": 443}
    same_origin = (
        nxt.scheme == base.scheme
        and nxt.hostname == base.hostname
        and (nxt.port or default_port[nxt.scheme])
        == (base.port or default_port[base.scheme])
    )
    if same_origin:
        return next_url, headers
    return next_url, {
        k: v for k, v in headers.items() if k.lower() != "authorization"
    }


def _http_get_json(
    url: str,
    headers: dict,
    max_retries: int = 5,
    backoff_s: float = 0.5,
) -> dict:
    """GET a JSON document with retry.  429 honors Retry-After (PCO
    rate-limits at 100 req/20s; pypco sleeps and retries the same way);
    5xx and transient socket errors back off exponentially; 4xx other
    than 429 raise immediately (a bad credential must not burn the
    retry budget on every partition)."""
    import time as _time
    import urllib.error
    import urllib.request

    last_exc: Exception | None = None
    for attempt in range(max_retries + 1):
        try:
            req = urllib.request.Request(url, headers=headers)
            with urllib.request.urlopen(req, timeout=30) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as exc:
            last_exc = exc
            if exc.code == 429:
                wait = _retry_after_seconds(
                    exc.headers.get("Retry-After"),
                    backoff_s * (2**attempt),
                )
            elif exc.code >= 500:
                wait = backoff_s * (2**attempt)
            else:
                raise
        except (urllib.error.URLError, OSError) as exc:
            last_exc = exc
            wait = backoff_s * (2**attempt)
        if attempt < max_retries:
            _time.sleep(wait)
    raise RuntimeError(
        f"pco_jsonapi: GET {url} failed after {max_retries + 1} attempts"
    ) from last_exc


def _page_url(base: str, per_page: int, offset: int) -> str:
    sep = "&" if "?" in base else "?"
    return f"{base}{sep}per_page={per_page}&offset={offset}"


def _doc_rows(doc: dict, page_no: int):
    data = doc.get("data", [])
    if isinstance(data, dict):
        data = [data]
    for res in data:
        yield (
            res.get("id"),
            res.get("type"),
            json.dumps(res.get("attributes", {}), sort_keys=True),
            json.dumps(res.get("relationships", {}), sort_keys=True),
            (res.get("links") or {}).get("self"),
            page_no,
        )


class _JsonApiOptions:
    """Option parsing shared by the batch and streaming readers: one
    of `path` (page files) or `url` (live http/https), plus paging,
    retry and auth settings."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        self.url = options.get("url")
        if not self.path and not self.url:
            raise ValueError("pco_jsonapi: 'path' or 'url' option is required")
        if self.path and self.url:
            raise ValueError("pco_jsonapi: 'path' and 'url' are exclusive")
        if self.url:
            from urllib.parse import urlsplit

            if urlsplit(self.url).scheme not in ("http", "https"):
                raise ValueError(
                    f"pco_jsonapi: unsupported url scheme in {self.url!r} "
                    "(only http/https)"
                )
        self.per_page = int(options.get("per_page", "100"))
        self.max_retries = int(options.get("max_retries", "5"))
        self.backoff_s = float(options.get("backoff_s", "0.5"))
        self.headers = _auth_headers(options)


class JsonApiReader(_JsonApiOptions, DataSourceReader):
    def partitions(self):
        """One partition per page — the unit of parallel fetch.

        File mode: one per page file.  Live mode: the DRIVER probes the
        first page for `meta.total_count` (PCO reports it on every
        collection) and emits offset-range partitions; 1000 executors
        then fetch 1000 pages concurrently instead of the reference's
        serial `pco.iterate` loop.  If the API omits total_count, fall
        back to ONE partition that walks links.next serially."""
        if self.path:
            return [
                JsonApiPagePartition(i, os.path.join(self.path, f))
                for i, f in enumerate(_list_pages(self.path))
            ]
        probe = _http_get_json(
            _page_url(self.url, self.per_page, 0),
            self.headers,
            self.max_retries,
            self.backoff_s,
        )
        total = (probe.get("meta") or {}).get("total_count")
        if total is None:
            return [JsonApiHttpPartition(0, 0, serial=True)]
        n_pages = max(1, -(-int(total) // self.per_page))
        return [
            JsonApiHttpPartition(i, i * self.per_page) for i in range(n_pages)
        ]

    def read(self, partition):
        """Executor-side: parse one page's JSON:API envelope (file), or
        GET + parse the partition's page offset (live)."""
        if isinstance(partition, JsonApiPagePartition):
            yield from _read_page_rows(partition.path, partition.page_no)
            return
        if partition.serial:
            # no total_count: single-task next-link walk (the
            # reference's iteration shape, bounded to one partition)
            url, hdrs = _page_url(self.url, self.per_page, 0), self.headers
            page_no = 0
            while url:
                doc = _http_get_json(
                    url, hdrs, self.max_retries, self.backoff_s
                )
                yield from _doc_rows(doc, page_no)
                url = (doc.get("links") or {}).get("next")
                if url:
                    # server-controlled URL: scheme + origin checked,
                    # auth stripped cross-origin
                    url, hdrs = _safe_next_url(self.url, url, self.headers)
                page_no += 1
            return
        doc = _http_get_json(
            _page_url(self.url, self.per_page, partition.offset),
            self.headers,
            self.max_retries,
            self.backoff_s,
        )
        yield from _doc_rows(doc, partition.page_no)


def _list_pages(path: str) -> list[str]:
    return sorted(
        f for f in os.listdir(path)
        if f.startswith("page-") and f.endswith(".json")
    )


def _read_page_rows(path: str, page_no: int):
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    yield from _doc_rows(doc, page_no)


class JsonApiStreamReader(_JsonApiOptions, SimpleDataSourceStreamReader):
    """Streaming variant: pages-on-arrival.

    File mode: the offset is the count of consumed page files over the
    sorted listing, so each micro-batch reads exactly the pages that
    appeared since the last one — the incremental analogue of the
    reference's poll-the-API-weekly batch.

    LIVE mode (`url` option): the offset is the count of consumed
    RECORDS — each micro-batch polls the collection from that record
    offset and drains to the current end (a partial or empty page
    means caught-up).  This assumes the collection is append-only
    between polls (the same assumption every offset-paginated
    incremental fetch makes); readBetweenOffsets re-fetches exactly
    the committed record range on recovery, using the offset + a
    capped per_page so the range replays deterministically.

    Offsets are plain dicts checkpointed by Spark."""

    def initialOffset(self) -> dict:
        return {"consumed": 0} if self.url else {"next_idx": 0}

    def _fetch_records(self, start_rec: int, end_rec: int | None):
        """Fetch records [start_rec, end_rec) — or drain to the current
        end when end_rec is None.  Returns (rows, next_offset)."""
        rows: list = []
        off = start_rec
        while end_rec is None or off < end_rec:
            want = (
                self.per_page
                if end_rec is None
                else min(self.per_page, end_rec - off)
            )
            doc = _http_get_json(
                _page_url(self.url, want, off),
                self.headers,
                self.max_retries,
                self.backoff_s,
            )
            data = doc.get("data", [])
            if isinstance(data, dict):
                data = [data]
            rows.extend(_doc_rows({"data": data}, off // self.per_page))
            off += len(data)
            if len(data) < want:
                break  # partial/empty page: caught up with the API
        return rows, off

    def read(self, start: dict):
        # iter(list), not a generator: the prefetch cache calls next()
        # on it (empty-batch validation) and pickles the remainder to
        # ship rows into the micro-batch plan — list iterators support
        # both, generators don't pickle.
        if self.url:
            rows, off = self._fetch_records(start["consumed"], None)
            return iter(rows), {"consumed": off}
        pages = _list_pages(self.path)
        end = {"next_idx": len(pages)}
        rows = [
            row
            for i in range(start["next_idx"], len(pages))
            for row in _read_page_rows(os.path.join(self.path, pages[i]), i)
        ]
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        if self.url:
            rows, off = self._fetch_records(start["consumed"], end["consumed"])
            if off < end["consumed"]:
                # the committed range no longer exists upstream — the
                # documented append-only assumption was violated (rows
                # deleted between commit and replay).  Fail loudly: a
                # silently smaller replayed batch would corrupt
                # exactly-once recovery downstream.
                raise RuntimeError(
                    "pco_jsonapi: replay of committed records "
                    f"[{start['consumed']}, {end['consumed']}) came up short "
                    f"at {off}; the collection is not append-only"
                )
            yield from rows
            return
        pages = _list_pages(self.path)
        for i in range(start["next_idx"], end["next_idx"]):
            yield from _read_page_rows(os.path.join(self.path, pages[i]), i)


class JsonApiDataSource(DataSource):
    """`spark.read.format("pco_jsonapi").option("path", dir)` (page
    files) or `.option("url", base)` (live HTTP, parallel page fetch)
    after `spark.dataSource.register(JsonApiDataSource)`; streaming via
    `spark.readStream.format("pco_jsonapi")...` picks up new page
    files per micro-batch (file mode) or polls the live API from the
    checkpointed record offset (url mode)."""

    @classmethod
    def name(cls) -> str:
        return "pco_jsonapi"

    def schema(self) -> StructType:
        return JSONAPI_SCHEMA

    def reader(self, schema: StructType) -> JsonApiReader:
        return JsonApiReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> JsonApiStreamReader:
        return JsonApiStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(JsonApiDataSource)
