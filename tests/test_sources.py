"""Source tests: CDM change feed, REST pagination/auth, blob listing, JDBC CT.

Mirrors the reference's mock-backed operator tests (SURVEY.md §5 categories
1-2): row counts per mode, schema drift, pagination sequences, watermarks.
"""

import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from arcane_framework_spark.contracts.columns import ARCANE_MERGE_KEY
from arcane_framework_spark.contracts.schema import SchemaMismatchError
from arcane_framework_spark.sources.blob import blob_listing
from arcane_framework_spark.sources.cdm import CdmChangeFeedSource, load_cdm_schema
from arcane_framework_spark.sources.jdbc_ct import (
    ChangeTrackingSource,
    VersionCheckpoint,
)
from arcane_framework_spark.sources.rest import (
    DynamicBearerAuth,
    FixedHeaderAuth,
    PageCountingResolver,
    PageNextTokenResolver,
    PageOffsetResolver,
    RestApiSource,
    TokenBucketRateLimiter,
)
from tests.conftest import batch_rows

#: Arrow schema of the CT change feeds below (Spark: pk LONG,
#: SYS_CHANGE_VERSION LONG, SYS_CHANGE_OPERATION STRING).
CT_FEED_SCHEMA = pa.schema([
    ("pk", pa.int64()),
    ("SYS_CHANGE_VERSION", pa.int64()),
    ("SYS_CHANGE_OPERATION", pa.string()),
])

# ---------------------------------------------------------------------------
# CDM fixture
# ---------------------------------------------------------------------------

CDM_ATTRS = [
    {"name": "RECID", "dataFormat": "int64"},
    {"name": "NAME", "dataFormat": "string"},
    {"name": "Start_LSN", "dataFormat": "string"},
    {"name": "End_LSN", "dataFormat": "string"},
    {"name": "DML_Action", "dataFormat": "string"},
    {"name": "Seq_Val", "dataFormat": "string"},
    {"name": "Update_Mask", "dataFormat": "string"},
]


def _write_cdm_fixture(root):
    feed_dir = root / "ChangeFeed" / "widgets"
    feed_dir.mkdir(parents=True)
    (root / "ChangeFeed" / "widgets.cdm.json").write_text(
        json.dumps(
            {
                "definitions": [
                    {"entityName": "widgets", "hasAttributes": CDM_ATTRS}
                ]
            }
        )
    )
    # change feed rows: RECID,NAME,Start_LSN,End_LSN,DML_Action,Seq_Val,Update_Mask
    (feed_dir / "0001.csv").write_text(
        '101,"gizmo","0X01",,"INSERT","0X0A","0X0F"\n'
        '102,"gadget, deluxe","0X02",,"AFTER_UPDATE","0X0B","0X0F"\n'
    )
    tables = root / "Tables" / "2024"
    tables.mkdir(parents=True)
    # base entity: RECID,NAME,LSN,_SysRowId
    (tables / "WIDGETS_00001.csv").write_text(
        '1,"alpha","0X00","sys-1"\n2,"multi\nline","0X00","sys-2"\n'
    )
    return root


def test_cdm_schema_loader(tmp_path):
    root = _write_cdm_fixture(tmp_path)
    schema = load_cdm_schema(str(root / "ChangeFeed" / "widgets.cdm.json"), "widgets")
    assert schema.field_names[:2] == ["RECID", "NAME"]
    assert schema.spark_schema.fields[0].dataType.simpleString() == "bigint"


def test_cdm_stream_rows_and_merge_key(spark, tmp_path):
    root = _write_cdm_fixture(tmp_path)
    src = CdmChangeFeedSource(spark, str(root), "widgets")
    rows = src.stream_batch().collect()
    assert len(rows) == 2
    by_id = {r.RECID: r for r in rows}
    assert by_id[102].NAME == "gadget, deluxe"  # embedded delimiter
    assert by_id[101][ARCANE_MERGE_KEY] == "101"  # merge key = RECID as string


def test_cdm_backfill_alignment(spark, tmp_path):
    root = _write_cdm_fixture(tmp_path)
    src = CdmChangeFeedSource(spark, str(root), "widgets")
    df = src.backfill()
    rows = df.collect()
    assert len(rows) == 2
    # column order matches the change-feed schema + merge key appended
    assert df.columns == [a["name"] for a in CDM_ATTRS] + [ARCANE_MERGE_KEY]
    by_id = {r.RECID: r for r in rows}
    # quoted newline survived (multiLine CSV)
    assert by_id[2].NAME == "multi\nline"
    # backfill defaults (CdmChangeFeedSource.cs:244-264)
    assert by_id[1].DML_Action == "INSERT"
    assert by_id[1].Seq_Val == "0x00000000000000000000"
    assert by_id[1].Start_LSN == "0X00"  # renamed from LSN
    assert by_id[1][ARCANE_MERGE_KEY] == "1"


def test_cdm_schema_drift_raises(spark, tmp_path):
    root = _write_cdm_fixture(tmp_path)
    src = CdmChangeFeedSource(spark, str(root), "widgets")
    src.check_schema_drift()  # unchanged -> no error
    drifted = {
        "definitions": [
            {
                "entityName": "widgets",
                "hasAttributes": CDM_ATTRS + [{"name": "EXTRA", "dataFormat": "string"}],
            }
        ]
    }
    (root / "ChangeFeed" / "widgets.cdm.json").write_text(json.dumps(drifted))
    with pytest.raises(SchemaMismatchError):
        src.check_schema_drift()


def test_cdm_streaming_source_is_streaming(spark, tmp_path):
    root = _write_cdm_fixture(tmp_path)
    src = CdmChangeFeedSource(spark, str(root), "widgets")
    assert src.stream().isStreaming


# ---------------------------------------------------------------------------
# REST pagination / auth (reference PageResolverTests.cs:104-170)
# ---------------------------------------------------------------------------


def _fake_http(pages):
    """Returns an http_get stub serving pages keyed by URL."""
    calls = []

    def get(url, headers, timeout):
        calls.append((url, dict(headers)))
        return 200, json.dumps(pages(url))

    get.calls = calls
    return get


def test_page_counting_resolver_sequence():
    r = PageCountingResolver(["meta", "totalPages"])
    assert r.next(None) is True and r.current() == "1"
    resp = {"meta": {"totalPages": 3}, "items": [1]}
    assert r.next(resp) is True and r.current() == "2"
    assert r.next(resp) is True and r.current() == "3"
    assert r.next(resp) is False  # exhausted + reset


def test_page_offset_resolver_sequence():
    r = PageOffsetResolver(["items"], start_offset=0)
    assert r.next(None) is True and r.current() == "0"
    assert r.next({"items": [1, 2, 3]}) is True and r.current() == "3"
    assert r.next({"items": [4]}) is True and r.current() == "4"
    assert r.next({"items": []}) is False


def test_page_offset_resolver_fixed_response_size():
    """Reference parity (PageOffsetResolver.cs:47): a configured
    response_size advances the offset even when the API returns a short
    (non-final) page."""
    r = PageOffsetResolver(["items"], start_offset=0, response_size=100)
    assert r.next(None) is True and r.current() == "0"
    assert r.next({"items": [1, 2, 3]}) is True and r.current() == "100"
    assert r.next({"items": [4]}) is True and r.current() == "200"
    assert r.next({"items": []}) is False and r.current() is None


def test_page_next_token_resolver_sequence():
    r = PageNextTokenResolver(["next"])
    assert r.next(None) is True and r.current() is None
    assert r.next({"next": "abc", "items": [1]}) is True and r.current() == "abc"
    assert r.next({"items": [2]}) is False  # missing token -> stop


def test_rest_source_paginated_fetch(spark):
    def pages(url):
        page = int(url.rsplit("=", 1)[1]) if "=" in url else 1
        return {
            "meta": {"totalPages": 3},
            "items": [{"id": page * 10 + i, "v": f"p{page}"} for i in range(2)],
        }

    http = _fake_http(pages)
    src = RestApiSource(
        spark=spark,
        url_builder=lambda page: f"http://api.test/items?page={page or 1}",
        schema="id INT, v STRING",
        page_resolver=PageCountingResolver(["meta", "totalPages"]),
        response_key_chain=["items"],
        http_get=http,
    )
    df = src.fetch_batch()
    assert df.count() == 6  # 3 pages x 2 rows
    assert len(http.calls) == 3
    assert {r.v for r in df.collect()} == {"p1", "p2", "p3"}


def test_rest_source_rate_limited_status_yields_empty(spark):
    def http(url, headers, timeout):
        return 429, ""

    src = RestApiSource(
        spark=spark,
        url_builder=lambda page: "http://api.test/items",
        schema="id INT",
        http_get=http,
    )
    # 429 -> empty batch, no exception (RestApiSource.cs:503-515)
    assert src.fetch_batch().count() == 0


def test_rest_source_auth_headers_sent(spark):
    http = _fake_http(lambda url: {"items": []})
    src = RestApiSource(
        spark=spark,
        url_builder=lambda page: "http://api.test/x",
        schema="id INT",
        auth=FixedHeaderAuth({"X-Api-Key": "sekret"}),
        response_key_chain=["items"],
        http_get=http,
    )
    src.fetch_batch()
    assert http.calls[0][1]["X-Api-Key"] == "sekret"


def test_rest_source_variadic_transport_accepts_payload(spark):
    """The payload-capability probe must not reject variadic or partially-
    applied transports that happily accept a body (round-11 ADVICE, low):
    def f(*args) and functools.partial wrappers report <4 named params but
    are payload-capable; a genuinely 3-arg transport still gets the
    contract error."""
    import functools

    import pytest

    calls = []

    def variadic(*args):
        calls.append(args)
        return 200, '{"items": [{"id": 1}]}'

    def five_arg(tag, url, headers, timeout, body):
        calls.append((tag, url, headers, timeout, body))
        return 200, '{"items": [{"id": 2}]}'

    def make(transport):
        return RestApiSource(
            spark=spark,
            url_builder=lambda page: "http://api.test/x",
            schema="id INT",
            response_key_chain=["items"],
            http_get=transport,
            http_method="POST",
            request_builder=lambda tok: ("http://api.test/x", '{"q": 1}'),
        )

    assert make(variadic).fetch_batch().count() == 1
    assert calls[-1][3] == '{"q": 1}'  # the body travelled
    assert make(
        functools.partial(five_arg, "tagged")
    ).fetch_batch().count() == 1
    assert calls[-1] == (
        "tagged", "http://api.test/x", {}, 30.0, '{"q": 1}'
    )

    def three_arg(url, headers, timeout):
        return 200, '{"items": []}'

    with pytest.raises(TypeError, match="takes no payload"):
        make(three_arg).fetch_batch()


def test_dynamic_bearer_auth_caches_until_expiry():
    fetches = []

    def fetcher():
        fetches.append(1)
        return f"tok{len(fetches)}", 3600.0

    auth = DynamicBearerAuth(fetcher)
    h1 = auth.get_headers()
    h2 = auth.get_headers()
    assert h1 == h2 == {"Authorization": "Bearer tok1"}
    assert len(fetches) == 1  # cached
    auth._valid_until = None  # force expiry path
    auth._token = None
    assert auth.get_headers() == {"Authorization": "Bearer tok2"}


def test_dynamic_bearer_custom_header_keeps_declared_scheme():
    """The reference's custom-header arm sends '{scheme} {token}' whenever
    authScheme is non-empty (DynamicBearerAuthenticatedMessageProvider
    GetRequest) — a spec declaring headerName + scheme must not silently
    lose the scheme (round-11 ADVICE, low)."""

    def http_send(method, url, data, headers, timeout):
        return 200, '{"tok": "abc"}'

    base = {"tokenUrl": "http://x/t", "tokenProperty": "tok"}
    with_scheme = DynamicBearerAuth.from_spec(
        {**base, "headerName": "X-Auth", "scheme": "Custom"},
        http_send=http_send,
    )
    assert with_scheme.get_headers() == {"X-Auth": "Custom abc"}
    # no scheme declared → the raw token, unchanged behavior
    raw = DynamicBearerAuth.from_spec(
        {**base, "headerName": "X-Auth"}, http_send=http_send
    )
    assert raw.get_headers() == {"X-Auth": "abc"}
    # Authorization keeps its Bearer default
    default = DynamicBearerAuth.from_spec(base, http_send=http_send)
    assert default.get_headers() == {"Authorization": "Bearer abc"}


def test_token_bucket_limits_rate():
    clock = {"t": 0.0}
    sleeps = []

    def fake_clock():
        return clock["t"]

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    limiter = TokenBucketRateLimiter(2, 1.0, clock=fake_clock, sleeper=fake_sleep)
    for _ in range(4):
        limiter.acquire()
    assert sum(sleeps) >= 0.9  # 4 requests at 2 rps needs ~1s of waiting


# ---------------------------------------------------------------------------
# Blob listing
# ---------------------------------------------------------------------------


def test_blob_listing_names_and_glob(spark, tmp_path):
    (tmp_path / "a.csv").write_text("x")
    (tmp_path / "b.csv").write_text("y")
    (tmp_path / "c.txt").write_text("z")
    got = blob_listing(spark, str(tmp_path), glob="*.csv")
    names = sorted(r.blob_name.rsplit("/", 1)[1] for r in got.collect())
    assert names == ["a.csv", "b.csv"]
    assert set(got.columns) == {"blob_name", "size", "last_modified"}


# ---------------------------------------------------------------------------
# Change-tracking source (S2) against a parquet-backed fake
# ---------------------------------------------------------------------------


def test_change_tracking_full_load_and_delta(spark, tmp_path):
    table_rows = [(1, "alice"), (2, "bob"), (3, "carol")]
    table = spark.createDataFrame(table_rows, "id: int, name: string")
    changes = spark.createDataFrame(
        [
            (1, 10, "U"),
            (3, 11, "D"),
            (2, 5, "U"),  # below the watermark after first tick
        ],
        "id: int, SYS_CHANGE_VERSION: long, SYS_CHANGE_OPERATION: string",
    )
    cp = VersionCheckpoint(str(tmp_path / "ct" / "version.json"))
    src = ChangeTrackingSource(
        table_provider=lambda: table,
        changes_provider=lambda: changes,
        pk_columns=["id"],
        checkpoint=cp,
    )
    full = src.full_load().collect()
    assert len(full) == 3
    assert all(r.SYS_CHANGE_VERSION == 0 and r.SYS_CHANGE_OPERATION == "I" for r in full)
    assert all(r[ARCANE_MERGE_KEY] for r in full)

    cp.write(5)  # pretend the first tick processed version 5
    delta = src.delta().collect()
    assert {r.id for r in delta} == {1, 3}  # version 5 row filtered out
    deleted = [r for r in delta if r.SYS_CHANGE_OPERATION == "D"]
    assert len(deleted) == 1 and deleted[0].name is None  # delete-preserving

    new_version = src.advance(src.delta())
    assert new_version == 11 and cp.read() == 11


def test_version_checkpoint_roundtrip(tmp_path):
    cp = VersionCheckpoint(str(tmp_path / "v.json"))
    assert cp.read() == -1
    cp.write(42)
    assert cp.read() == 42


def test_min_commit_version_query_two_branches():
    """T-SQL shape mirrors GetChangeTrackingVersion
    (SqlServerChangeTrackingSource.cs:271-287): cold start bounds
    commit_time by the lookback window; warm ticks filter commit_ts past
    the checkpoint."""
    from arcane_framework_spark.sources.tsql import min_commit_version_query

    cold = min_commit_version_query(0, 3600)
    assert cold.startswith("SELECT MIN(commit_ts) FROM sys.dm_tran_commit_table")
    assert "commit_time > DATEADD(second, -3600, SYSUTCDATETIME())" in cold
    assert "commit_ts >" not in cold

    warm = min_commit_version_query(42, 3600)
    assert warm.startswith("SELECT MIN(commit_ts) FROM sys.dm_tran_commit_table")
    assert "commit_ts > 42" in warm
    assert "DATEADD" not in warm

    # checkpoint sentinel -1 (VersionCheckpoint cold read) is also cold start
    assert "DATEADD" in min_commit_version_query(-1, 60)


def test_ct_watermark_discovery_drives_delta(spark, tmp_path):
    """Server-side watermark discovery wired end-to-end
    (SqlServerChangeTrackingSource.cs:271-287,389-418): the resolved
    MIN(commit_ts) minus one becomes the CHANGETABLE lower bound, so the
    discovered version itself is included; a NULL scalar means an empty
    tick; a warm checkpoint switches the query to the commit_ts branch."""
    table = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "carol")], "id: int, name: string"
    )
    changes = spark.createDataFrame(
        [(1, 10, "U"), (3, 11, "D"), (2, 5, "U")],
        "id: int, SYS_CHANGE_VERSION: long, SYS_CHANGE_OPERATION: string",
    )
    commit_versions = [5, 10, 11]  # the fake sys.dm_tran_commit_table
    seen_queries = []

    def executor(query):
        seen_queries.append(query)
        if "commit_ts >" in query:
            last = int(query.rsplit("commit_ts > ", 1)[1])
            later = [v for v in commit_versions if v > last]
        else:  # cold-start lookback branch: everything is "recent" here
            later = commit_versions
        return min(later) if later else None

    cp = VersionCheckpoint(str(tmp_path / "ct" / "version.json"))
    src = ChangeTrackingSource(
        table_provider=lambda: table,
        changes_provider=lambda: changes,
        pk_columns=["id"],
        checkpoint=cp,
        version_query_executor=executor,
    )
    # cold start: lookback branch, discovered min=5, bound 4 → all 3 changes
    assert {r.id for r in src.delta().collect()} == {1, 2, 3}
    assert "DATEADD" in seen_queries[0]

    cp.write(5)  # warm tick: commit_ts branch, min>5 is 10, bound 9
    assert {r.id for r in src.delta().collect()} == {1, 3}
    assert "commit_ts > 5" in seen_queries[1]

    cp.write(11)  # caught up: executor returns None → empty tick
    assert src.delta().count() == 0
    assert src.resolve_start_version() == 2**63 - 2


# ---------------------------------------------------------------------------
# URL templating + URI providers (F8, P4, P5) and OpenAPI schema (F7)
# ---------------------------------------------------------------------------


def test_rest_api_template_substitution():
    from arcane_framework_spark.sources.rest import RestApiTemplate

    t = RestApiTemplate("https://api/x?from=@dateFrom&page=@page",
                        ["dateFrom", "page"])
    got = t.resolve_field("dateFrom", "2024-01-01").resolve_field(
        "page", "3").resolve()
    assert got == "https://api/x?from=2024-01-01&page=3"
    # undeclared fields stay; reset clears values
    assert "@page" in t.reset().resolve_field("dateFrom", "x").resolve()


def test_simple_uri_provider_mode_switch():
    from datetime import datetime, timedelta, timezone

    from arcane_framework_spark.sources.rest import SimpleUriProvider

    now = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)
    common = dict(
        template="https://api/x?from=@d", date_field="d",
        backfill_start=datetime(2020, 1, 1, tzinfo=timezone.utc),
        look_back=timedelta(hours=2),
        change_capture_interval=timedelta(seconds=30),
        clock=lambda: now,
    )
    backfill = SimpleUriProvider(is_backfilling=True, **common)
    assert backfill.next_uri() == "https://api/x?from=2020-01-01T00:00:00"
    stream = SimpleUriProvider(is_backfilling=False, **common)
    assert stream.next_uri() == "https://api/x?from=2024-06-01T10:00:00"  # lookback
    assert stream.next_uri() == "https://api/x?from=2024-06-01T11:59:30"  # interval


def test_paged_uri_provider_range_sweep():
    from datetime import datetime, timedelta

    from arcane_framework_spark.sources.rest import PagedUriProvider

    p = PagedUriProvider(
        "https://api/x?page=@p&from=@f&to=@t", "p", "f", "t",
        range_start=datetime(2024, 1, 1), range_end=datetime(2024, 1, 3),
        range_step=timedelta(days=1),
    )
    assert p.next_uri(1) == (
        "https://api/x?page=1&from=2024-01-01T00:00:00&to=2024-01-02T00:00:00"
    )
    assert not p.has_read_all_pages()
    p.advance_range()
    assert p.next_uri(7) == (
        "https://api/x?page=7&from=2024-01-02T00:00:00&to=2024-01-03T00:00:00"
    )
    p.advance_range()
    assert p.has_read_all_pages()
    p.reset_range()
    assert not p.has_read_all_pages()


def test_uri_providers_from_templated_fields():
    """Typed-field construction mirrors the reference's by-type selection
    (RestApiTemplatedField.cs + PagedUriProvider.cs:74-117): the first
    FILTER_DATE_[BETWEEN_]FROM field fills the range start, the first
    FILTER_DATE_BETWEEN_TO the end, RESPONSE_PAGE the page slot; each
    date field renders with ITS OWN format string; and a paged API with
    no page field raises the reference's error."""
    from datetime import datetime, timedelta, timezone

    import pytest

    from arcane_framework_spark.sources.rest import (
        PagedUriProvider,
        RestApiTemplatedField,
        SimpleUriProvider,
        TemplatedFieldType,
    )

    fields = [
        RestApiTemplatedField(
            TemplatedFieldType.FILTER_DATE_BETWEEN_FROM, "f", "%Y-%m-%d"
        ),
        RestApiTemplatedField(
            TemplatedFieldType.FILTER_DATE_BETWEEN_TO, "t",
            "%Y-%m-%dT%H:%M:%S"
        ),
        RestApiTemplatedField(TemplatedFieldType.RESPONSE_PAGE, "p"),
    ]
    paged = PagedUriProvider.from_templated_fields(
        "https://api/x?page=@p&from=@f&to=@t", fields,
        range_start=datetime(2024, 1, 1), range_end=datetime(2024, 1, 3),
        range_step=timedelta(days=1),
    )
    # from-field uses its own date-only format, to-field its full format
    assert paged.next_uri(2) == (
        "https://api/x?page=2&from=2024-01-01&to=2024-01-02T00:00:00"
    )
    with pytest.raises(ValueError, match="initialized as paged"):
        PagedUriProvider.from_templated_fields(
            "https://api/x?from=@f&to=@t", fields[:2],
            range_start=datetime(2024, 1, 1),
            range_end=datetime(2024, 1, 3),
        )

    simple = SimpleUriProvider.from_templated_fields(
        "https://api/x?from=@d",
        [RestApiTemplatedField(
            TemplatedFieldType.FILTER_DATE_FROM, "d", "%Y/%m/%d"
        )],
        backfill_start=datetime(2020, 2, 3, tzinfo=timezone.utc),
        is_backfilling=True,
    )
    assert simple.next_uri() == "https://api/x?from=2020/02/03"
    # absent date field: silently skipped, like the reference's
    # FirstOrDefault + null pattern (SimpleUriProvider.cs:70) — only the
    # paged provider's missing PAGE field throws
    undated = SimpleUriProvider.from_templated_fields(
        "https://api/x/all",
        [RestApiTemplatedField(TemplatedFieldType.RESPONSE_PAGE, "p")],
        backfill_start=datetime(2020, 1, 1, tzinfo=timezone.utc),
    )
    assert undated.next_uri() == "https://api/x/all"


def test_uri_providers_body_placement():
    """BODY-placed fields resolve into the body template, not the URL
    (reference SimpleUriProvider.cs:76-86, PagedUriProvider.cs:77-134:
    each field's Placement switches it between urlTemplate and
    bodyTemplate; an unknown placement is the ArgumentOutOfRangeException
    arm). Paged date fields are optional (FirstOrDefault, cs:73,92)."""
    from datetime import datetime, timedelta, timezone

    import pytest

    from arcane_framework_spark.sources.rest import (
        PagedUriProvider,
        RestApiTemplatedField,
        SimpleUriProvider,
        TemplatedFieldPlacement,
        TemplatedFieldType,
    )

    simple = SimpleUriProvider.from_templated_fields(
        "https://api/x/search",
        [RestApiTemplatedField(
            TemplatedFieldType.FILTER_DATE_FROM, "d", "%Y-%m-%d",
            TemplatedFieldPlacement.BODY,
        )],
        backfill_start=datetime(2020, 2, 3, tzinfo=timezone.utc),
        is_backfilling=True,
        body_template='{"updatedAfter": "@d"}',
    )
    url, body = simple.next_request()
    assert url == "https://api/x/search"          # date NOT in the URL
    assert body == '{"updatedAfter": "2020-02-03"}'

    paged = PagedUriProvider.from_templated_fields(
        "https://api/x/search?page=@p",
        [
            RestApiTemplatedField(TemplatedFieldType.RESPONSE_PAGE, "p"),
            RestApiTemplatedField(
                TemplatedFieldType.FILTER_DATE_BETWEEN_FROM, "f",
                "%Y-%m-%d", TemplatedFieldPlacement.BODY,
            ),
            RestApiTemplatedField(
                TemplatedFieldType.FILTER_DATE_BETWEEN_TO, "t",
                "%Y-%m-%d", TemplatedFieldPlacement.BODY,
            ),
        ],
        range_start=datetime(2024, 1, 1), range_end=datetime(2024, 1, 3),
        range_step=timedelta(days=1),
        body_template='{"from": "@f", "to": "@t"}',
    )
    url, body = paged.next_request(4)
    assert url == "https://api/x/search?page=4"
    assert body == '{"from": "2024-01-01", "to": "2024-01-02"}'

    # paged provider with NO date fields: page-only templating works
    pageonly = PagedUriProvider.from_templated_fields(
        "https://api/x?page=@p",
        [RestApiTemplatedField(TemplatedFieldType.RESPONSE_PAGE, "p")],
        range_start=datetime(2024, 1, 1), range_end=datetime(2024, 1, 2),
    )
    assert pageonly.next_uri(9) == "https://api/x?page=9"

    # unknown placement: loud at construction (ArgumentOutOfRangeException)
    with pytest.raises(ValueError, match="placement"):
        SimpleUriProvider.from_templated_fields(
            "https://api/x?from=@d",
            [RestApiTemplatedField(
                TemplatedFieldType.FILTER_DATE_FROM, "d", "%Y-%m-%d",
                "HEADER",
            )],
            backfill_start=datetime(2020, 1, 1, tzinfo=timezone.utc),
        )


def test_openapi_schema_nested_structs():
    import base64
    import json

    from pyspark.sql import types as T

    from arcane_framework_spark.contracts.openapi import parse_openapi_schema

    fragment = {
        "type": "object",
        "properties": {
            "id": {"type": "integer", "format": "int64"},
            "name": {"type": "string"},
            "created": {"type": "string", "format": "date-time"},
            "score": {"type": "number"},
            "tags": {"type": "array", "items": {"type": "string"}},
            "address": {
                "type": "object",
                "properties": {
                    "city": {"type": "string"},
                    "geo": {
                        "type": "object",
                        "properties": {"lat": {"type": "number", "format": "double"}},
                    },
                },
            },
        },
    }
    schema = parse_openapi_schema(json.dumps(fragment))
    assert schema["id"].dataType == T.LongType()
    assert schema["created"].dataType == T.TimestampType()
    assert schema["tags"].dataType == T.ArrayType(T.StringType())
    addr = schema["address"].dataType
    assert isinstance(addr, T.StructType)
    assert isinstance(addr["geo"].dataType, T.StructType)
    assert addr["geo"].dataType["lat"].dataType == T.DoubleType()
    # base64 input round-trips to the same schema (two-level nesting golden)
    b64 = base64.b64encode(json.dumps(fragment).encode()).decode()
    assert parse_openapi_schema(b64) == schema


# ---------------------------------------------------------------------------
# CSV scalar operations (F1-F3) — reference's table-driven goldens
# ---------------------------------------------------------------------------


def test_parse_csv_line_reference_goldens():
    import pytest as _pytest

    from arcane_framework_spark.sources.csv_ops import parse_csv_line

    cases = [
        ('"qv1","qv2","qv3",,"qv4","qv5","qv6",123,,0.12345',
         ["qv1", "qv2", "qv3", None, "qv4", "qv5", "qv6", "123", None,
          "0.12345"]),
        ('123,,"qv1",,,,', ["123", None, "qv1", None, None, None]),
        (',,123,341,5', [None, None, "123", "341", "5"]),
        ('"q",,"1321"', ["q", None, "1321"]),
        ('"q",,"13,21"', ["q", None, "13,21"]),
        ('123,,", abc def"', ["123", None, ", abc def"]),
        ('5637144576,"NFO",,0,', ["5637144576", "NFO", None, "0", None]),
    ]
    for line, expected in cases:
        assert parse_csv_line(line, len(expected)) == expected, line
    with _pytest.raises(ValueError):
        parse_csv_line('"q",","1321"', 3)


def test_csv_is_complete_and_quoted_newlines():
    from arcane_framework_spark.sources.csv_ops import (
        is_complete,
        replace_quoted_newlines,
    )

    assert is_complete('"a","b"')
    assert not is_complete('"a","b')
    got = replace_quoted_newlines('1,"a\nb",2\r\n3,"c ""x""\n",4')
    assert got == '1,"ab",2\n3,"c ""x""",4'


def test_functions_namespace_importable():
    from arcane_framework_spark import functions as AF

    assert callable(AF.merge_key_expr)
    assert callable(AF.fingerprint_expr)
    assert callable(AF.parse_csv_line)
    assert len(AF.__all__) >= 25


# ---------------------------------------------------------------------------
# T-SQL pushdown generators (JDBC path of S2)
# ---------------------------------------------------------------------------


def test_tsql_merge_key_matches_engine_semantics(spark):
    """The generated T-SQL merge key and the Spark-side merge_key_expr must
    produce the same hash. DuckDB stands in for SQL Server: we translate the
    T-SQL-specific pieces (HashBytes/convert) to their DuckDB spellings but
    keep the '#'-join + sha256 + lower structure under test."""
    import duckdb

    from arcane_framework_spark.contracts.columns import merge_key_expr
    from arcane_framework_spark.sources.tsql import merge_key_sql

    sql = merge_key_sql(["k1", "k2"])
    # structure assertions on the real T-SQL
    assert "HashBytes('SHA2_256'" in sql
    assert "+ '#' +" in sql and sql.startswith("lower(convert(nvarchar(128)")
    # semantic parity via DuckDB: HashBytes sees nvarchar (UTF-16LE) bytes,
    # reproduced for ASCII input by NUL-interleaving with regexp_replace
    got = duckdb.sql(
        "SELECT lower(sha256(regexp_replace("
        "cast(1 as varchar) || '#' || cast(2 as varchar),"
        " '(.)', '\\1' || chr(0), 'g')))"
    ).fetchone()[0]
    df = spark.createDataFrame([(1, 2)], "k1: int, k2: int")
    want = df.select(merge_key_expr(["k1", "k2"]).alias("m")).head().m
    assert got == want


def test_tsql_query_shapes():
    from arcane_framework_spark.sources.tsql import (
        pk_discovery_query,
        select_all_query,
        select_delta_query,
    )

    full = select_all_query("dbo", "t", ["id"], ["id", "v"],
                            partition_expression="format(getdate(),'yyyyMM')")
    assert full.startswith("SELECT [id], [v]")
    assert "0 as [SYS_CHANGE_VERSION]" in full
    assert "'I' as [SYS_CHANGE_OPERATION]" in full
    assert "[DATE_PARTITION_KEY]" in full and full.endswith("FROM [dbo].[t]")

    delta = select_delta_query("dbo", "t", ["id"], ["v"], 42)
    assert "CHANGETABLE(CHANGES [dbo].[t], 42)" in delta
    assert "LEFT JOIN [dbo].[t] as tq ON ct.[id] = tq.[id]" in delta
    assert "ct.[SYS_CHANGE_VERSION]" in delta
    assert "[ARCANE_MERGE_KEY]" in delta

    pk = pk_discovery_query("dbo", "t")
    assert "PRIMARY KEY" in pk and "ORDINAL_POSITION" in pk


# ---------------------------------------------------------------------------
# Spark 4 Python DataSource face of the REST source (page-parallel)
# ---------------------------------------------------------------------------


def test_rest_datasource_page_parallel(spark):
    import http.server
    import json as _json
    import threading

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            page = int(self.path.split("page=")[1])
            payload = {"data": {"items": [
                {"id": page * 10 + i, "name": f"p{page}r{i}"} for i in range(3)
            ]}}
            body = _json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        from arcane_framework_spark.sources.rest_datasource import RestDataSource

        spark.dataSource.register(RestDataSource)
        df = (
            spark.read.format("arcane_rest")
            .schema("id LONG, name STRING")
            .option("url_template", f"http://127.0.0.1:{port}/data?page=@page")
            .option("pages", "3")
            .option("key_chain", "data.items")
            .load()
        )
        assert df.rdd.getNumPartitions() == 3  # one partition per page
        rows = sorted((r.id, r.name) for r in df.collect())
        assert len(rows) == 9
        assert rows[0] == (10, "p1r0") and rows[-1] == (32, "p3r2")
    finally:
        server.shutdown()


def test_rest_datasource_streaming_page_cursor(spark, tmp_path):
    import http.server
    import json as _json
    import threading
    import time as _time

    N_PAGES = 3

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            page = int(self.path.split("page=")[1])
            items = ([{"id": page}] if page <= N_PAGES else [])
            body = _json.dumps({"items": items}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        from arcane_framework_spark.sources.rest_datasource import RestDataSource

        spark.dataSource.register(RestDataSource)
        stream = (
            spark.readStream.format("arcane_rest")
            .schema("id LONG")
            .option("url_template", f"http://127.0.0.1:{port}/d?page=@page")
            .option("key_chain", "items")
            .load()
        )
        q = (
            stream.writeStream.format("memory").queryName("rest_stream_t")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            deadline = _time.time() + 60
            got = set()
            while _time.time() < deadline:
                got = {r.id for r in spark.table("rest_stream_t").collect()}
                if got == {1, 2, 3}:
                    break
                _time.sleep(1)
        finally:
            q.stop()
        assert got == {1, 2, 3}  # one page per micro-batch, offset-checkpointed
    finally:
        server.shutdown()


def _counting_rest_server(fail_plan):
    """Stub REST server whose behavior per request is scripted by
    ``fail_plan(path, hit_count) -> status | None`` (None = 200 with one
    item ``{"id": page}``). Returns (server, port, hits dict)."""
    import http.server
    import json as _json
    import threading
    from collections import defaultdict

    hits: dict = defaultdict(int)
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            with lock:
                hits[self.path] += 1
                n = hits[self.path]
            status = fail_plan(self.path, n)
            if status is not None:
                self.send_response(status)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            page = int(self.path.split("page=")[1])
            body = _json.dumps({"items": [{"id": page}]}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, port, hits


def test_rest_datasource_batch_retries_transient_5xx(spark):
    """A page that 500s once then succeeds is retried inside the executor
    fetch — the batch read sees every row (reference wraps every HTTP call
    in the transient-retry policy, RestApiSource.cs:444-447)."""
    server, port, hits = _counting_rest_server(
        lambda path, n: 500 if ("page=2" in path and n == 1) else None
    )
    try:
        from arcane_framework_spark.sources.rest_datasource import RestDataSource

        spark.dataSource.register(RestDataSource)
        df = (
            spark.read.format("arcane_rest")
            .schema("id LONG")
            .option("url_template", f"http://127.0.0.1:{port}/d?page=@page")
            .option("pages", "3")
            .option("key_chain", "items")
            .option("retry_backoff_seconds", "0")
            .load()
        )
        assert {r.id for r in df.collect()} == {1, 2, 3}
        assert hits["/d?page=2"] == 2  # failed once, retried once
    finally:
        server.shutdown()


def test_rest_datasource_batch_fails_on_persistent_429(spark):
    """A page throttled through every retry attempt FAILS the batch read —
    an empty page there would silently truncate the result."""
    import pytest as _pytest

    server, port, hits = _counting_rest_server(
        lambda path, n: 429 if "page=2" in path else None
    )
    try:
        from arcane_framework_spark.sources.rest_datasource import RestDataSource

        spark.dataSource.register(RestDataSource)
        df = (
            spark.read.format("arcane_rest")
            .schema("id LONG")
            .option("url_template", f"http://127.0.0.1:{port}/d?page=@page")
            .option("pages", "2")
            .option("key_chain", "items")
            .option("max_retry_attempts", "2")
            .option("retry_backoff_seconds", "0")
            .load()
        )
        with _pytest.raises(Exception, match="RateLimited|429"):
            df.collect()
        assert hits["/d?page=2"] >= 2  # throttle WAS retried before failing
    finally:
        server.shutdown()


def test_rest_datasource_stream_429_holds_offset_no_dup_no_drop(spark, tmp_path):
    """A still-throttled micro-batch emits nothing and leaves the page
    cursor unchanged; once the API recovers, the stream delivers every
    page exactly once (no dup from the re-poll, no dropped page)."""
    import time as _time

    # page 2: 429 for the first four hits (= two triggers at two attempts
    # each), then healthy — the stream must re-poll page 2, not skip it.
    server, port, hits = _counting_rest_server(
        lambda path, n: 429 if ("page=2" in path and n <= 4) else None
    )
    try:
        from arcane_framework_spark.sources.rest_datasource import RestDataSource

        spark.dataSource.register(RestDataSource)
        stream = (
            spark.readStream.format("arcane_rest")
            .schema("id LONG")
            .option("url_template", f"http://127.0.0.1:{port}/d?page=@page")
            .option("key_chain", "items")
            .option("max_retry_attempts", "2")
            .option("retry_backoff_seconds", "0")
            .load()
        )
        q = (
            stream.writeStream.format("memory").queryName("rest_429_t")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            deadline = _time.time() + 90
            rows = []
            while _time.time() < deadline:
                rows = [r.id for r in spark.table("rest_429_t").collect()]
                # The stream is unbounded (the stub serves every page), so
                # a poll can land after page 4+ committed — break on
                # superset, assert exactly-once on pages 1-3 only.
                if {1, 2, 3} <= set(rows):
                    break
                _time.sleep(1)
        finally:
            q.stop()
        assert sorted(r for r in rows if r <= 3) == [1, 2, 3]  # once each
        assert hits["/d?page=2"] >= 5  # throttled 4×, then served
    finally:
        server.shutdown()


def test_rest_datasource_fetch_rate_limiter_spaces_requests():
    """The executor-side token bucket spaces fetches beyond the initial
    burst: 12 calls at 10 rps (burst capacity 10) must wait for ≥ 2
    refills (the driver-loop source's T5 contract, now on the parallel
    path too)."""
    import time as _time

    server, port, _ = _counting_rest_server(lambda path, n: None)
    try:
        from arcane_framework_spark.sources.rest_datasource import _fetch_rows

        url = f"http://127.0.0.1:{port}/d?page=1"
        t0 = _time.monotonic()
        for _ in range(12):
            rows = _fetch_rows(url, {}, 5.0, ["items"],
                               requests_per_second=10.0)
            assert rows == [{"id": 1}]
        elapsed = _time.monotonic() - t0
        assert elapsed >= 0.15  # ≥2 refill waits at 0.1 s (tolerance)
    finally:
        server.shutdown()


# ---------------------------------------------------------------------------
# S1 polling source + C11 transient retry deciders
# ---------------------------------------------------------------------------


def test_polling_source_two_ticks_observe_insert(spark, tmp_path):
    """S1 semantics (SqlServerSource.cs:28-210): every tick re-reads the
    WHOLE table, so a row inserted between polls appears in the next one."""
    from arcane_framework_spark.sources.polling import PollingTableSource

    state = {"rows": [(1, "a")]}

    def provider():
        return spark.createDataFrame(state["rows"], "id: long, v: string")

    src = PollingTableSource(provider, pk_columns=["id"])
    seen = []

    def sink(df, batch_id):
        seen.append({(r.id, r.v) for r in df.collect()})
        state["rows"] = [(1, "a"), (2, "b")]  # insert between polls

    res = src.run(
        spark, sink, checkpoint_dir=str(tmp_path / "ckpt"),
        tick_interval=__import__("datetime").timedelta(seconds=1),
        max_ticks=2,
    )
    assert res.exit_code == 0 and res.interrupted
    assert len(seen) == 2
    assert seen[0] == {(1, "a")}
    assert seen[1] == {(1, "a"), (2, "b")}


def test_polling_source_merge_key_and_retry(spark):
    """poll() retries transient provider errors with backoff, attaches the
    merge key, and propagates non-transient errors unchanged."""
    from arcane_framework_spark.sources.polling import PollingTableSource

    calls = {"n": 0}

    def flaky_provider():
        calls["n"] += 1
        if calls["n"] < 3:
            raise TimeoutError("transient connect timeout")
        return spark.createDataFrame([(7, "x")], "id: long, v: string")

    naps = []
    src = PollingTableSource(
        flaky_provider, pk_columns=["id"], sleep=naps.append
    )
    row = src.poll().head()
    assert row[ARCANE_MERGE_KEY]
    assert calls["n"] == 3 and naps == [1.0, 1.0]

    def fatal_provider():
        raise ValueError("bad credentials")

    src2 = PollingTableSource(fatal_provider, sleep=lambda s: None)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        src2.poll()


def test_polling_jdbc_query_shape(spark):
    from arcane_framework_spark.sources.tsql import plain_select_query

    q = plain_select_query("mydb", "dbo", "orders")
    assert q == "SELECT * FROM [mydb].[dbo].[orders]"


def test_polling_from_jdbc_builds_pushdown_reader():
    """S1 JDBC constructor (SqlServerSource.cs:103-107): from_jdbc wires a
    provider that issues the generated plain SELECT as a JDBC `query` option
    (server-side pushdown, not table-name dbtable scan), forwards extra
    reader options, and carries pk_columns into the source. Verified with a
    recording fake session — no JDBC server in this sandbox."""
    from arcane_framework_spark.sources.polling import PollingTableSource

    recorded = {}

    class _FakeReader:
        def __init__(self):
            self.fmt = None
            self.opts = {}

        def format(self, fmt):
            self.fmt = fmt
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self):
            recorded["fmt"] = self.fmt
            recorded["opts"] = dict(self.opts)
            return "sentinel-df"

    class _FakeSpark:
        @property
        def read(self):
            return _FakeReader()

    src = PollingTableSource.from_jdbc(
        _FakeSpark(), "jdbc:sqlserver://host;db=mydb", "mydb", "dbo",
        "orders", pk_columns=["o_orderkey"],
        options={"fetchsize": "10000"},
    )
    assert isinstance(src, PollingTableSource)
    assert src.pk_columns == ["o_orderkey"]
    assert src.table_provider() == "sentinel-df"
    assert recorded["fmt"] == "jdbc"
    assert recorded["opts"]["url"] == "jdbc:sqlserver://host;db=mydb"
    assert recorded["opts"]["query"] == (
        "SELECT * FROM [mydb].[dbo].[orders]"
    )
    assert recorded["opts"]["fetchsize"] == "10000"


def test_rest_source_retries_transient_transport(spark):
    """C11 (RestApiSource.cs:355-361): first N transport failures retry with
    1 s backoff; the sweep still completes. Non-transient errors raise."""
    import json as _json

    from pyspark.sql import types as T

    from arcane_framework_spark.sources.rest import RestApiSource

    calls = {"n": 0}

    def flaky_http(url, headers, timeout):
        calls["n"] += 1
        if calls["n"] < 3:
            raise TimeoutError("socket timeout")
        return 200, _json.dumps({"items": [{"id": 1}]})

    naps = []
    src = RestApiSource(
        spark=spark,
        url_builder=lambda tok: "http://unit.test/api",
        schema=T.StructType([T.StructField("id", T.LongType())]),
        response_key_chain=["items"],
        http_get=flaky_http,
        retry_sleep=naps.append,
    )
    rows = [r.id for r in src.fetch_batch().collect()]
    assert rows == [1] and calls["n"] == 3 and naps == [1.0, 1.0]


def test_ct_source_600_column_guard(spark, tmp_path):
    """SqlServerChangeTrackingSource.cs:29 — sources wider than 600 columns
    are rejected at the contract layer."""
    import pytest as _pytest

    from arcane_framework_spark.sources.jdbc_ct import (
        ChangeTrackingSource,
        VersionCheckpoint,
    )

    wide = spark.range(1).select(
        *[F.lit(i).alias(f"c{i}") for i in range(601)]
    )
    src = ChangeTrackingSource(
        table_provider=lambda: wide,
        changes_provider=lambda: wide,
        pk_columns=["c0"],
        checkpoint=VersionCheckpoint(str(tmp_path / "v.json")),
    )
    with _pytest.raises(ValueError, match="600"):
        src.full_load()


# ---------------------------------------------------------------------------
# F5 manifest navigation + CDM stream lookback
# ---------------------------------------------------------------------------


def _entity_with_version(attrs, version="1.0.0"):
    """Fixture mirroring test/Sources/SampleData/CdmChangeFeed/ValidEntity:
    version trait + a custom data type chain ending in string."""
    return {
        "jsonSchemaSemanticVersion": "1.4.0",
        "definitions": [
            {
                "entityName": "widgets",
                "exhibitsTraits": [
                    {
                        "traitReference": "is.CDM.entityVersion",
                        "arguments": [
                            {"name": "versionNumber", "value": version}
                        ],
                    }
                ],
                "hasAttributes": attrs,
            },
            {
                "dataTypeName": "customDataTypeNumber",
                "extendsDataType": "nestedCustomDataTypeNumber",
            },
            {
                "dataTypeName": "nestedCustomDataTypeNumber",
                "extendsDataType": "string",
            },
        ],
    }


def test_cdm_entity_version_trait_and_complex_types(tmp_path):
    """SimpleCdmEntity.FromJson parity (SimpleCdmEntity.cs:41-61): version
    from the trait chain, custom data types resolved transitively."""
    from arcane_framework_spark.sources.cdm import load_cdm_schema

    doc = _entity_with_version(
        [
            {"name": "RECID", "dataFormat": "int64"},
            {"name": "CustomField", "dataType": "customDataTypeNumber"},
        ]
    )
    p = tmp_path / "widgets.cdm.json"
    p.write_text(json.dumps(doc))
    schema = load_cdm_schema(str(p), "widgets")
    assert schema.version == "1.0.0"
    assert dict(schema.attributes)["CustomField"] == "string"
    assert schema.spark_schema["CustomField"].dataType.simpleString() == "string"


def test_json_document_navigation_helpers():
    """JsonDocumentOperations.cs:17-53 parity on the golden shapes."""
    from arcane_framework_spark.sources.cdm import (
        entity_version,
        filter_array,
        find_model_entity,
        get_array_element,
    )

    doc = _entity_with_version([{"name": "RECID", "dataFormat": "int64"}])
    traits = get_array_element(doc, "definitions", "exhibitsTraits")
    assert traits and traits[0]["traitReference"] == "is.CDM.entityVersion"
    trait = filter_array(traits, "traitReference", "is.CDM.entityVersion")
    arg = get_array_element(trait, "arguments", "name", "versionNumber")
    assert arg["value"] == "1.0.0"
    assert entity_version(doc) == "1.0.0"
    # missing pieces return None, not raise (C# FirstOrDefault)
    assert entity_version({"definitions": []}) is None
    assert get_array_element({}, "definitions", "x") is None

    model = {"entities": [{"name": "widgets", "attributes": []},
                          {"name": "orders", "attributes": []}]}
    assert find_model_entity(model, "orders")["name"] == "orders"
    assert find_model_entity(model, "missing") is None


def test_cdm_stream_lookback_skips_old_files(spark, tmp_path):
    """Cold-start lookback (CdmChangeFeedSource.cs:165,296-346): a change
    file older than the lookback window is ignored; newer files ingest."""
    import os as _os
    import time as _time
    from datetime import timedelta as _td

    root = _write_cdm_fixture(tmp_path)
    feed_dir = root / "ChangeFeed" / "widgets"
    old = feed_dir / "0000.csv"
    old.write_text('900,"stale","0X00",,"INSERT","0X00","0X00"\n')
    two_hours_ago = _time.time() - 7200
    _os.utime(old, (two_hours_ago, two_hours_ago))

    src = CdmChangeFeedSource(spark, str(root), "widgets")
    out = src.stream(lookback=_td(hours=1))
    q = (
        out.writeStream.format("memory").queryName("cdm_lookback")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    ids = sorted(r.RECID for r in spark.table("cdm_lookback").collect())
    assert ids == [101, 102]  # 900 (stale) filtered out


def test_rest_datasource_stream_restart_resumes_pages(spark, tmp_path):
    """Kill/restart mid-pagination: the page cursor lives in the stream
    checkpoint, so a restarted query resumes at the committed page instead
    of refetching from page 1 (reference PagedUriProvider.cs:119-146 —
    resume of pagination state across ticks). No duplicate rows."""
    import http.server
    import json as _json
    import threading
    import time as _time

    state = {"max_page": 2}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            page = int(self.path.split("page=")[1])
            items = [{"id": page}] if page <= state["max_page"] else []
            body = _json.dumps({"items": items}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def rows():
        try:
            return sorted(r.id for r in spark.read.parquet(out).collect())
        except Exception:
            return []

    try:
        from arcane_framework_spark.sources.rest_datasource import RestDataSource

        spark.dataSource.register(RestDataSource)

        def start():
            # The memory sink cannot recover from a checkpoint; the file
            # sink is the recoverable path users actually run.
            return (
                spark.readStream.format("arcane_rest")
                .schema("id LONG")
                .option("url_template", f"http://127.0.0.1:{port}/d?page=@page")
                .option("key_chain", "items")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="1 second")
                .start()
            )

        q = start()
        try:
            deadline = _time.time() + 60
            while _time.time() < deadline:
                if rows() == [1, 2]:
                    break
                _time.sleep(0.5)
            assert rows() == [1, 2]
            _time.sleep(2)  # let the last batch's commit land in the ckpt
        finally:
            q.stop()

        # API grows two pages while the stream is down; a fresh query on the
        # SAME checkpoint must deliver only the new pages — the file-sink
        # output log also dedups any replayed uncommitted batch, so the
        # combined output has no duplicates.
        state["max_page"] = 4
        q = start()
        try:
            deadline = _time.time() + 60
            while _time.time() < deadline:
                if {3, 4} <= set(rows()):
                    break
                _time.sleep(0.5)
        finally:
            q.stop()
        got = rows()
        assert {3, 4} <= set(got)
        assert got == sorted(set(got))  # exactly-once: no page refetched
    finally:
        server.shutdown()


def test_rest_datasource_replay_raises_instead_of_truncating():
    """Replaying a COMMITTED offset range must never return a partial
    batch: a throttle mid-replay raises (Spark retries the task) rather
    than silently committing a truncated row set — truncation here would
    be silent data loss on restart recovery."""
    import pytest as _pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from arcane_framework_spark.sources.rest_datasource import (
        RateLimitedError,
        RestStreamReader,
    )

    schema = StructType([StructField("id", LongType())])
    reader = RestStreamReader(schema, {
        "url_template": "http://127.0.0.1:9/d?token=@token",
        "key_chain": "items",
        "next_token_key_chain": "next",
    })

    def throttled_read_token(cur):
        if cur.get("token") == "":
            return iter([(1,)]), {"token": "t1"}
        return iter([]), dict(cur)  # throttled: no rows, no progress

    reader._read_token = throttled_read_token
    with _pytest.raises(RateLimitedError, match="committed range"):
        list(reader.readBetweenOffsets({"token": ""}, {"token": "t2"}))

    # range mode: a stalled cursor inside a committed range is equally
    # fatal (completed slices cannot become incomplete again)
    range_reader = RestStreamReader(schema, {
        "url_template": "http://127.0.0.1:9/d?from=@from&to=@to&page=@page",
        "key_chain": "items",
        "range_start": "2020-01-01T00:00:00+00:00",
        "range_step_seconds": "86400",
    })

    def stalled_read_range(cur):
        return iter([]), dict(cur)

    range_reader._read_range = stalled_read_range
    with _pytest.raises(RuntimeError, match="replay stalled"):
        list(range_reader.readBetweenOffsets(
            {"slice": 0, "page": 0}, {"slice": 1, "page": 0}
        ))


def test_rest_datasource_stream_token_pagination_restart(spark, tmp_path):
    """Continuation-token streaming mode (reference
    PageNextTokenResolver.cs:11-60 as a checkpointed offset): each
    response's next-token becomes the committed offset, a null token ends
    pagination, and a kill/restart mid-chain resumes at the EXACT token —
    the first page is never refetched after restart."""
    import http.server
    import json as _json
    import threading
    import time as _time
    import urllib.parse
    from collections import Counter

    # token chain: "" -> [1], next "t1"; "t1" -> [2], next "t2";
    # "t2" -> [3], next null (terminal)
    chain = {
        "": ([1], "t1"),
        "t1": ([2], "t2"),
        "t2": ([3], None),
    }
    hits: Counter = Counter()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            qs = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
            token = qs.get("token", [""])[0]
            hits[token] += 1
            ids, nxt = chain.get(token, ([], None))
            body = _json.dumps(
                {"items": [{"id": i} for i in ids], "next": nxt}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def rows():
        try:
            return sorted(r.id for r in spark.read.parquet(out).collect())
        except Exception:
            return []

    try:
        from arcane_framework_spark.sources.rest_datasource import RestDataSource

        spark.dataSource.register(RestDataSource)

        def start():
            return (
                spark.readStream.format("arcane_rest")
                .schema("id LONG")
                .option(
                    "url_template", f"http://127.0.0.1:{port}/d?token=@token"
                )
                .option("key_chain", "items")
                .option("next_token_key_chain", "next")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="1 second")
                .start()
            )

        # Phase 1: run until the first two pages are committed, then kill.
        q = start()
        try:
            deadline = _time.time() + 60
            while _time.time() < deadline:
                if {1, 2} <= set(rows()):
                    break
                _time.sleep(0.5)
            assert {1, 2} <= set(rows())
            _time.sleep(2)  # let the last batch's commit land in the ckpt
        finally:
            q.stop()

        # Phase 2: restart on the SAME checkpoint — must resume at the
        # committed token and drain the rest of the chain exactly once.
        q = start()
        try:
            deadline = _time.time() + 60
            while _time.time() < deadline:
                if {1, 2, 3} <= set(rows()):
                    break
                _time.sleep(0.5)
        finally:
            q.stop()
        got = rows()
        assert got == [1, 2, 3]  # no duplicates across the restart
        # the restarted query never refetched the start of the chain:
        # page "" was served exactly once across both query lifetimes
        assert hits[""] == 1, dict(hits)
        # terminal: the null token froze the offset; the stream kept
        # triggering but never beat on the consumed token page again
        assert hits["t2"] <= 2, dict(hits)
    finally:
        server.shutdown()


def test_rest_datasource_stream_date_range_sweep(spark, tmp_path):
    """Date-range streaming mode: the offset is (slice, page) — pages drain
    within each completed date slice, the cursor then advances to the next
    slice, and slices whose end is in the future are not read (reference
    PagedUriProvider date sweep, PagedUriProvider.cs:119-146, as a
    checkpointed Structured Streaming offset)."""
    import http.server
    import json as _json
    import threading
    import time as _time
    import urllib.parse
    from datetime import datetime, timedelta, timezone

    # 3 complete hourly slices ending in the past; slice 3 is still open.
    now = datetime.now(timezone.utc).replace(minute=0, second=0, microsecond=0)
    range_start = now - timedelta(hours=3)
    pages_per_slice = {0: 2, 1: 1, 2: 3}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            qs = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
            frm = datetime.fromisoformat(qs["from"][0]).replace(
                tzinfo=timezone.utc
            )
            page = int(qs["page"][0])
            s = int((frm - range_start) / timedelta(hours=1))
            n = pages_per_slice.get(s, 0)
            items = [{"id": s * 100 + page}] if page <= n else []
            body = _json.dumps({"items": items}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        from arcane_framework_spark.sources.rest_datasource import RestDataSource

        spark.dataSource.register(RestDataSource)
        stream = (
            spark.readStream.format("arcane_rest")
            .schema("id LONG")
            .option(
                "url_template",
                f"http://127.0.0.1:{port}/d?page=@page&from=@from&to=@to",
            )
            .option("key_chain", "items")
            .option("range_start", range_start.strftime("%Y-%m-%dT%H:%M:%S"))
            .option("range_step_seconds", "3600")
            .load()
        )
        q = (
            stream.writeStream.format("memory").queryName("rest_range_t")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        expected = {
            s * 100 + p
            for s, n in pages_per_slice.items()
            for p in range(1, n + 1)
        }
        try:
            deadline = _time.time() + 90
            got = set()
            while _time.time() < deadline:
                got = {r.id for r in spark.table("rest_range_t").collect()}
                if got == expected:
                    break
                _time.sleep(1)
        finally:
            q.stop()
        assert got == expected  # all completed slices drained, no dupes
    finally:
        server.shutdown()


def test_ct_datasource_stream_resumes_from_commit_log(spark, tmp_path):
    """S2/T2 as a native streaming DataSource: the change-tracking version
    watermark lives in Spark's OWN commit log (reference
    SqlServerChangeTrackingSource.cs:455-459 checkpoints the highest
    version fully processed). Kill the query between batches, append new
    change versions to the feed, restart on the SAME checkpoint: the
    recovered stream must deliver exactly the new deltas — every version
    exactly once across both runs, no duplicate delta, no gap."""
    import time as _time

    from arcane_framework_spark.sources.ct_datasource import CtDataSource

    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_feed(name: str, rows: list[tuple]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(feed, exist_ok=True)
        pk, val, ver, op = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "pk": list(pk),
                    "val": list(val),
                    "SYS_CHANGE_VERSION": list(ver),
                    "SYS_CHANGE_OPERATION": list(op),
                }
            ),
            os.path.join(feed, name),
        )

    def versions() -> list[int]:
        try:
            return sorted(
                r.SYS_CHANGE_VERSION for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []

    spark.dataSource.register(CtDataSource)

    def start():
        return (
            spark.readStream.format("arcane_ct")
            .schema(
                "pk LONG, val STRING, SYS_CHANGE_VERSION LONG, "
                "SYS_CHANGE_OPERATION STRING"
            )
            .option("path", feed)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    write_feed("b0.parquet", [(1, "a", 1, "I"), (2, "b", 2, "I"),
                              (1, "a2", 3, "U")])
    q = start()
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if versions() == [1, 2, 3]:
                break
            _time.sleep(0.5)
        assert versions() == [1, 2, 3]
        _time.sleep(2)  # let the last batch's commit land in the ckpt
    finally:
        q.stop()

    # feed grows while the stream is down (including a DELETE)
    write_feed("b1.parquet", [(3, "c", 4, "I"), (2, None, 5, "D")])
    q = start()
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if {4, 5} <= set(versions()):
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    got = versions()
    assert {4, 5} <= set(got)
    assert got == sorted(set(got)), got  # no duplicate delta across restart
    assert got == [1, 2, 3, 4, 5]       # and no gap
    ops = {
        (r.pk, r.SYS_CHANGE_VERSION): r.SYS_CHANGE_OPERATION
        for r in spark.read.parquet(out).collect()
    }
    assert ops[(2, 5)] == "D"  # deletes flow through like the reference


def test_ct_datasource_empty_tick_holds_offset(spark, tmp_path):
    """An empty change feed must hold the watermark (re-polled next
    trigger), and start_version must bound the FIRST batch — the
    backfill→stream handoff where the snapshot already carries
    synthesized version 0."""
    from arcane_framework_spark.sources.ct_datasource import CtStreamReader
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(
        "pk LONG, SYS_CHANGE_VERSION LONG, SYS_CHANGE_OPERATION STRING"
    )
    reader = CtStreamReader(
        schema, {"path": str(tmp_path / "nofeed"), "start_version": "0"}
    )
    assert reader.initialOffset() == {"version": 0}
    batches, off = reader.read({"version": 0})
    assert batch_rows(batches) == [] and off == {"version": 0}

    import pyarrow as pa
    import pyarrow.parquet as pq

    feed = str(tmp_path / "nofeed")
    os.makedirs(feed)
    pq.write_table(
        pa.table({"pk": [1, 2], "SYS_CHANGE_VERSION": [0, 7],
                  "SYS_CHANGE_OPERATION": ["I", "U"]}),
        os.path.join(feed, "b.parquet"),
    )
    batches, off = reader.read({"version": 0})
    # version 0 is the backfill snapshot — already delivered, not re-read
    assert batch_rows(batches) == [(2, 7, "U")]
    assert off == {"version": 7}
    # replay of the committed range is bounded on both sides
    replay = reader.readBetweenOffsets({"version": 0}, {"version": 7})
    assert batch_rows(replay) == [(2, 7, "U")]


def test_ct_datasource_stream_static_delta_join(spark, tmp_path):
    """End-to-end composition on the NATIVE stream: arcane_ct change rows
    stream-static delta-joined (R2, delete-preserving) to the current
    table snapshot — the full reference tick (CHANGETABLE rows joined
    back to table state, GetSelectDeltaQuery.sql:7-8) running on Spark's
    own streaming machinery instead of the driver loop."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from arcane_framework_spark.operators.relational import delta_join
    from arcane_framework_spark.sources.ct_datasource import CtDataSource

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    os.makedirs(feed)
    pq.write_table(
        pa.table({
            "pk": [1, 2, 3],
            "SYS_CHANGE_VERSION": [1, 2, 3],
            "SYS_CHANGE_OPERATION": ["I", "U", "D"],
        }),
        os.path.join(feed, "b0.parquet"),
    )
    # current table state: pk 3 already deleted server-side; pk 1, 2 live
    table = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "pk LONG, val STRING"
    )

    spark.dataSource.register(CtDataSource)
    changes = (
        spark.readStream.format("arcane_ct")
        .schema(
            "pk LONG, SYS_CHANGE_VERSION LONG, SYS_CHANGE_OPERATION STRING"
        )
        .option("path", feed)
        .load()
    )
    joined = delta_join(changes, table, ["pk"])
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 60
        rows = []
        while _time.time() < deadline:
            try:
                rows = spark.read.parquet(out).collect()
            except Exception:
                rows = []
            if len(rows) == 3:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    got = {r.pk: (r.SYS_CHANGE_OPERATION, r.val) for r in rows}
    # inserts/updates carry payload; the delete survives with NULL payload
    assert got == {1: ("I", "alpha"), 2: ("U", "beta"), 3: ("D", None)}


def test_ct_datasource_requires_version_column(spark):
    """The version column IS the watermark: a schema without it cannot
    produce offsets, so the reader refuses loudly at construction."""
    from pyspark.sql.types import StructType

    from arcane_framework_spark.sources.ct_datasource import CtStreamReader

    with pytest.raises(ValueError, match="version column"):
        CtStreamReader(
            StructType.fromDDL("pk LONG, val STRING"), {"path": "/nowhere"}
        )


def test_ct_feed_prunes_committed_files_via_footer_stats(tmp_path, monkeypatch):
    """Per-tick cost must be bounded by DELTA size, not feed age (the
    reference's CHANGETABLE scans are delta-bounded): files whose footer
    max(version) <= the committed watermark are skipped WITHOUT reading
    their data pages. Proven by spying on the data-page reads
    (``ParquetFile.read``) and asserting only the candidate files reach
    them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arcane_framework_spark.sources import ct_datasource

    feed = tmp_path / "feed"
    feed.mkdir()

    def write(name, versions):
        pq.write_table(
            pa.table({
                "pk": list(range(len(versions))),
                "SYS_CHANGE_VERSION": versions,
                "SYS_CHANGE_OPERATION": ["I"] * len(versions),
            }),
            str(feed / name),
        )

    write("b0.parquet", [1, 2, 3])      # committed history
    write("b1.parquet", [4, 5])         # committed history
    write("b2.parquet", [6, 7])         # the delta
    write("b3.parquet", [8])            # the delta

    read_files = []

    class SpyParquetFile(pq.ParquetFile):
        def __init__(self, source, *a, **kw):
            super().__init__(source, *a, **kw)
            self.spy_source = source

        def read(self, *a, **kw):
            read_files.append(self.spy_source)
            return super().read(*a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", SpyParquetFile)

    batches, max_seen = ct_datasource._feed_batches(
        str(feed), "SYS_CHANGE_VERSION", CT_FEED_SCHEMA, 5, None,
    )
    assert max_seen == 8  # watermark still sees the whole feed (footers)
    assert sorted(r[1] for r in batch_rows(batches)) == [6, 7, 8]
    # only the delta files were opened for data — history pruned by footer
    assert sorted(os.path.basename(f) for f in read_files) == [
        "b2.parquet", "b3.parquet",
    ]

    # bounded replay also prunes ABOVE the range
    read_files.clear()
    replay, _ = ct_datasource._feed_batches(
        str(feed), "SYS_CHANGE_VERSION", CT_FEED_SCHEMA, 3, 5,
    )
    assert sorted(r[1] for r in batch_rows(replay)) == [4, 5]
    assert sorted(os.path.basename(f) for f in read_files) == ["b1.parquet"]


def test_ct_feed_tolerates_in_flight_file(tmp_path):
    """A partially-written parquet file (writer mid-append) must not crash
    the tick: it is skipped, the complete files' delta still flows, and
    once the writer finishes the file it becomes the next delta."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arcane_framework_spark.sources.ct_datasource import _feed_batches

    feed = tmp_path / "feed"
    feed.mkdir()
    pq.write_table(
        pa.table({
            "pk": [1, 2],
            "SYS_CHANGE_VERSION": [1, 2],
            "SYS_CHANGE_OPERATION": ["I", "I"],
        }),
        str(feed / "b0.parquet"),
    )
    # an in-flight file: truncated garbage with the .parquet suffix
    (feed / "b1.parquet").write_bytes(b"PAR1\x00\x01\x02partial")

    batches, max_seen = _feed_batches(
        str(feed), "SYS_CHANGE_VERSION", CT_FEED_SCHEMA, 0, None)
    assert sorted(r[1] for r in batch_rows(batches)) == [1, 2]
    assert max_seen == 2  # offset never advances past what was readable

    # the writer completes the file (feed contract: versions monotone
    # across file completion) — next tick picks it up as the delta
    pq.write_table(
        pa.table({
            "pk": [3],
            "SYS_CHANGE_VERSION": [3],
            "SYS_CHANGE_OPERATION": ["I"],
        }),
        str(feed / "b1.parquet"),
    )
    batches, max_seen = _feed_batches(
        str(feed), "SYS_CHANGE_VERSION", CT_FEED_SCHEMA, 2, None)
    assert [r[1] for r in batch_rows(batches)] == [3]
    assert max_seen == 3


def test_ct_feed_never_commits_past_in_flight_file(tmp_path):
    """Out-of-order completion must not lose data: with an in-flight file
    whose versions will land BELOW a later readable file's, the watermark
    must not advance from the later file — the feed is consumed as a
    prefix in filename order, so the late-completing file is still the
    next delta when it finishes (round-11 ADVICE, medium)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from arcane_framework_spark.sources.ct_datasource import _feed_batches

    feed = tmp_path / "feed"
    feed.mkdir()
    pq.write_table(
        pa.table({"pk": [1], "SYS_CHANGE_VERSION": [1],
                  "SYS_CHANGE_OPERATION": ["I"]}),
        str(feed / "b0.parquet"),
    )
    # writer A claimed b1 (will hold versions 2-3) but is still writing;
    # writer B already completed b2 with version 4
    (feed / "b1.parquet").write_bytes(b"PAR1\x00partial")
    pq.write_table(
        pa.table({"pk": [4], "SYS_CHANGE_VERSION": [4],
                  "SYS_CHANGE_OPERATION": ["I"]}),
        str(feed / "b2.parquet"),
    )

    batches, max_seen = _feed_batches(
        str(feed), "SYS_CHANGE_VERSION", CT_FEED_SCHEMA, 0, None)
    # only the prefix before the in-flight file flows; the watermark does
    # NOT see b2's version 4 — committing 4 here would orphan b1 forever
    assert [r[1] for r in batch_rows(batches)] == [1]
    assert max_seen == 1

    # writer A completes b1 — it lands ABOVE the committed offset
    pq.write_table(
        pa.table({"pk": [2, 3], "SYS_CHANGE_VERSION": [2, 3],
                  "SYS_CHANGE_OPERATION": ["I", "I"]}),
        str(feed / "b1.parquet"),
    )
    batches, max_seen = _feed_batches(
        str(feed), "SYS_CHANGE_VERSION", CT_FEED_SCHEMA, 1, None)
    assert sorted(r[1] for r in batch_rows(batches)) == [2, 3, 4]
    assert max_seen == 4

    # the loud variant: a feed where truncation means corruption
    (feed / "b3.parquet").write_bytes(b"PAR1\x00garbage")
    with pytest.raises(Exception):
        _feed_batches(str(feed), "SYS_CHANGE_VERSION", CT_FEED_SCHEMA, 4,
                      None, unreadable_policy="fail")


def test_ct_read_returns_arrow_batches_for_200k_delta(tmp_path):
    """A large delta reaches Spark as Arrow record batches: the source never
    turns the change rows into Python tuples."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from arcane_framework_spark.sources.ct_datasource import CtStreamReader

    n = 200_000
    feed = tmp_path / "feed"
    feed.mkdir()
    pq.write_table(pa.table({
        "pk": pa.array(range(n), pa.int64()),
        "SYS_CHANGE_VERSION": pa.array([1 + i // 1000 for i in range(n)],
                                       pa.int64()),
        "SYS_CHANGE_OPERATION": pa.array(["U"] * n),
    }), str(feed / "b0.parquet"), row_group_size=64_000)

    schema = T.StructType([  # CT_FEED_SCHEMA, built without a session
        T.StructField("pk", T.LongType()),
        T.StructField("SYS_CHANGE_VERSION", T.LongType()),
        T.StructField("SYS_CHANGE_OPERATION", T.StringType()),
    ])
    reader = CtStreamReader(schema, {"path": str(feed)})
    batches, off = reader.read({"version": 0})
    batches = list(batches)
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    assert all(b.schema.equals(CT_FEED_SCHEMA) for b in batches)
    assert sum(b.num_rows for b in batches) == n
    assert off == {"version": 200}
    replay = list(reader.readBetweenOffsets({"version": 0}, off))
    assert all(isinstance(b, pa.RecordBatch) for b in replay)
    assert sum(b.num_rows for b in replay) == n


@pytest.mark.parametrize("write_statistics", [True, False])
def test_ct_feed_straddling_file_yields_rows_above_lo(tmp_path,
                                                      write_statistics):
    """A file whose version range straddles the watermark (or a replay's
    upper bound) contributes exactly its rows inside ``(lo, hi]``; NULL
    versions never flow. Holds whether the range comes from footer
    statistics or, without them, from reading the version column."""
    import pyarrow.parquet as pq

    from arcane_framework_spark.sources.ct_datasource import _feed_batches

    feed = tmp_path / "feed"
    feed.mkdir()

    def write(name, versions):
        pq.write_table(pa.table({
            "pk": pa.array([10 * v if v else -1 for v in versions], pa.int64()),
            "SYS_CHANGE_VERSION": pa.array(versions, pa.int64()),
            "SYS_CHANGE_OPERATION": ["I"] * len(versions),
        }), str(feed / name), write_statistics=write_statistics)

    write("b0.parquet", [3, 4, 5, 6])     # straddles lo=4
    write("b1.parquet", [7, None, 8])     # above lo, with a NULL version

    batches, max_seen = _feed_batches(
        str(feed), "SYS_CHANGE_VERSION", CT_FEED_SCHEMA, 4, None)
    assert batch_rows(batches) == [
        (50, 5, "I"), (60, 6, "I"), (70, 7, "I"), (80, 8, "I"),
    ]
    assert max_seen == 8

    # straddles both ends of a bounded replay (3, 5]
    replay, _ = _feed_batches(
        str(feed), "SYS_CHANGE_VERSION", CT_FEED_SCHEMA, 3, 5)
    assert batch_rows(replay) == [(40, 4, "I"), (50, 5, "I")]


def test_ct_datasource_int32_feed_under_long_schema(spark, tmp_path):
    """A feed written with int32 keys/versions, read under a LONG schema,
    lands exact values end to end: each batch is cast to the schema's
    Arrow types (Spark rejects an int32 column for a LONG field), and
    files of different widths share one micro-batch."""
    import pyarrow.parquet as pq

    from arcane_framework_spark.sources.ct_datasource import CtDataSource
    from arcane_framework_spark.streaming.runner import (
        EXIT_SUCCESS,
        StreamRunner,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    big = 2**31 - 1  # int32 max: must not wrap on the way to LONG
    pq.write_table(pa.table({
        "pk": pa.array([1, big], pa.int32()),
        "SYS_CHANGE_VERSION": pa.array([1, 2], pa.int32()),
        "SYS_CHANGE_OPERATION": ["I", "U"],
    }), str(feed / "b0.parquet"))
    pq.write_table(pa.table({
        "pk": pa.array([2**40], pa.int64()),
        "SYS_CHANGE_VERSION": pa.array([3], pa.int64()),
        "SYS_CHANGE_OPERATION": ["D"],
    }), str(feed / "b1.parquet"))

    spark.dataSource.register(CtDataSource)
    changes = (
        spark.readStream.format("arcane_ct")
        .schema("pk LONG, SYS_CHANGE_VERSION LONG, SYS_CHANGE_OPERATION STRING")
        .option("path", str(feed))
        .load()
    )
    landed = []

    def collect(df, batch_id):
        landed.extend(tuple(r) for r in df.collect())

    result = StreamRunner().run_stream(
        changes, collect, str(tmp_path / "ckpt"), backfill=True)
    assert result.exit_code == EXIT_SUCCESS, result.error
    assert sorted(landed) == [
        (1, 1, "I"), (big, 2, "U"), (2**40, 3, "D"),
    ]


def _write_timestamp_feed(feed):
    """One CT file with nanosecond timestamps carrying sub-microsecond
    digits (what pandas/pyarrow write by default): zone-less and zoned."""
    import pyarrow.parquet as pq

    wall = pa.array([1705320000123456789, 1721044800000000999, None],
                    pa.timestamp("ns"))  # 2024-01-15/07-15 12:00 wall time
    pq.write_table(pa.table({
        "pk": pa.array([1, 2, 3], pa.int64()),
        "SYS_CHANGE_VERSION": pa.array([1, 2, 3], pa.int64()),
        "ts": wall,
        "ts_zoned": wall.cast(pa.timestamp("ns", "Asia/Tokyo")),
        "ts_ntz": wall,
    }), str(feed / "b0.parquet"))


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_ct_feed_timestamps_convert_like_spark_rows(tmp_path, zone):
    """Timestamp columns land as Spark's row conversion landed them:
    truncated to microseconds, never rejected; a zone-less value under a
    TIMESTAMP field is wall time in the runner's local zone (New York:
    -05:00 in January, -04:00 in July); a zoned one keeps its instant; a
    TIMESTAMP_NTZ field keeps the wall time."""
    import time
    from datetime import datetime, timezone

    from arcane_framework_spark.sources.ct_datasource import _feed_batches

    feed = tmp_path / "feed"
    feed.mkdir()
    _write_timestamp_feed(feed)
    schema = pa.schema([
        ("pk", pa.int64()),
        ("SYS_CHANGE_VERSION", pa.int64()),
        ("ts", pa.timestamp("us", "UTC")),
        ("ts_zoned", pa.timestamp("us", "UTC")),
        ("ts_ntz", pa.timestamp("us")),
    ])
    saved = os.environ.get("TZ")
    os.environ["TZ"] = zone
    time.tzset()
    try:
        batches, max_seen = _feed_batches(
            str(feed), "SYS_CHANGE_VERSION", schema, 0, None)
    finally:
        if saved is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = saved
        time.tzset()

    utc = timezone.utc
    jan, jul = ((5, 4) if zone == "America/New_York" else (0, 0))
    assert batches[0].schema.equals(schema)
    assert max_seen == 3
    assert batch_rows(batches) == [
        (1, 1, datetime(2024, 1, 15, 12 + jan, 0, 0, 123456, utc),
         datetime(2024, 1, 15, 12, 0, 0, 123456, utc),
         datetime(2024, 1, 15, 12, 0, 0, 123456)),
        (2, 2, datetime(2024, 7, 15, 12 + jul, tzinfo=utc),
         datetime(2024, 7, 15, 12, tzinfo=utc), datetime(2024, 7, 15, 12)),
        (3, 3, None, None, None),
    ]


def test_ct_datasource_ns_timestamp_feed_lands_truncated(spark, tmp_path):
    """End to end, nanosecond timestamps under TIMESTAMP and TIMESTAMP_NTZ
    fields land truncated to microseconds; the stream moves past the file
    instead of failing every tick on a lossy cast."""
    from datetime import datetime, timezone

    from arcane_framework_spark.sources.ct_datasource import CtDataSource
    from arcane_framework_spark.streaming.runner import (
        EXIT_SUCCESS,
        StreamRunner,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    _write_timestamp_feed(feed)
    spark.dataSource.register(CtDataSource)
    changes = (
        spark.readStream.format("arcane_ct")
        .schema("pk LONG, SYS_CHANGE_VERSION LONG, ts TIMESTAMP, "
                "ts_zoned TIMESTAMP, ts_ntz TIMESTAMP_NTZ")
        .option("path", str(feed))
        .load()
        .select("pk", F.unix_micros("ts"), F.unix_micros("ts_zoned"),
                F.col("ts_ntz").cast("string"))
    )
    landed = []

    def collect(df, batch_id):
        landed.extend(tuple(r) for r in df.collect())

    result = StreamRunner().run_stream(
        changes, collect, str(tmp_path / "ckpt"), backfill=True)
    assert result.exit_code == EXIT_SUCCESS, result.error

    def micros(dt):  # epoch micros of an aware datetime, exactly
        return (dt - datetime(1970, 1, 1, tzinfo=timezone.utc)) // (
            datetime.resolution)

    jan = datetime(2024, 1, 15, 12, 0, 0, 123456)
    jul = datetime(2024, 7, 15, 12)
    assert sorted(landed, key=lambda r: r[0]) == [
        (1, micros(jan.astimezone(timezone.utc)),
         micros(jan.replace(tzinfo=timezone.utc)), "2024-01-15 12:00:00.123456"),
        (2, micros(jul.astimezone(timezone.utc)),
         micros(jul.replace(tzinfo=timezone.utc)), "2024-07-15 12:00:00"),
        (3, None, None, None),
    ]


def test_ct_runner_import_set_stays_lean(tmp_path):
    """Spark starts a fresh Python source runner per query start, so what
    ``arcane_ct`` imports is paid on every tick: importing the module and
    reading a one-file delta must not load pandas, ``pyarrow.dataset``
    (which imports pandas) or the REST/CDM sources."""
    import subprocess
    import sys

    import pyarrow.parquet as pq

    feed = tmp_path / "feed"
    feed.mkdir()
    pq.write_table(pa.table({
        "pk": pa.array([1, 2], pa.int64()),
        "SYS_CHANGE_VERSION": pa.array([1, 2], pa.int64()),
        "SYS_CHANGE_OPERATION": ["I", "U"],
    }), str(feed / "b0.parquet"))
    script = f"""
import json, sys
from pyspark.sql import types as T
from arcane_framework_spark.sources.ct_datasource import CtStreamReader
schema = T.StructType([
    T.StructField("pk", T.LongType()),
    T.StructField("SYS_CHANGE_VERSION", T.LongType()),
    T.StructField("SYS_CHANGE_OPERATION", T.StringType()),
])
batches, off = CtStreamReader(schema, {{"path": {str(feed)!r}}}).read(
    {{"version": 0}})
print(json.dumps({{
    "rows": sum(b.num_rows for b in batches),
    "offset": off,
    "loaded": sorted(m for m in (
        "pandas", "pyarrow.dataset",
        "arcane_framework_spark.sources.rest",
        "arcane_framework_spark.sources.cdm",
    ) if m in sys.modules),
}}))
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", script], cwd=repo,
                         capture_output=True, text=True, timeout=120,
                         check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"rows": 2, "offset": {"version": 2}, "loaded": []}


def test_page_resolver_from_config_all_types():
    """The WithPageResolver switch (reference PagedUriProvider.cs:155-178)
    from spec JSON: COUNTER/OFFSET/TOKEN all constructible, OFFSET without
    responseSize raises the reference's error, unknown type rejected at
    parse (PageResolverType.cs has exactly three members)."""
    import pytest

    from arcane_framework_spark.plans.spec import PageResolverConfiguration
    from arcane_framework_spark.sources.rest import (
        PageCountingResolver,
        PageNextTokenResolver,
        PageOffsetResolver,
        page_resolver_from_config,
    )

    counter = page_resolver_from_config(
        {"resolverType": "COUNTER",
         "resolverPropertyKeyChain": ["meta", "totalPages"]}
    )
    assert isinstance(counter, PageCountingResolver)
    assert counter.key_chain == ["meta", "totalPages"]

    offset = page_resolver_from_config(
        {"resolverType": "OFFSET", "resolverPropertyKeyChain": ["items"],
         "responseSize": 100, "startOffset": 5}
    )
    assert isinstance(offset, PageOffsetResolver)
    assert offset.response_size == 100 and offset.start_offset == 5

    token = page_resolver_from_config(
        PageResolverConfiguration("TOKEN", ("next",))
    )
    assert isinstance(token, PageNextTokenResolver)
    assert token.key_chain == ["next"]

    with pytest.raises(ValueError, match="Response size is required"):
        page_resolver_from_config({"resolverType": "OFFSET"})
    with pytest.raises(ValueError, match="resolverType"):
        page_resolver_from_config({"resolverType": "CURSOR"})


def test_rest_pipeline_from_env_spec(spark):
    """The last reference-model gap: a PAGINATED REST pipeline declarable
    entirely from STREAMCONTEXT__SPEC (the reference deserializes
    PageResolverConfiguration + the templated-field list straight from
    the spec JSON). Env JSON -> StreamSpec -> rest_source_from_spec ->
    paginated fetch against a live stub server (the pagination shape of
    reference test/Sources/RestApiSourceTests.cs:138-210) -> rows."""
    import http.server
    import json as _json
    import threading

    from arcane_framework_spark.plans import spec as spec_mod
    from arcane_framework_spark.sources.rest import rest_source_from_spec

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            page = int(self.path.split("page=")[1].split("&")[0])
            payload = {
                "meta": {"totalPages": 3},
                "data": {"items": [
                    {"id": page * 10 + i, "name": f"p{page}r{i}"}
                    for i in range(2)
                ]},
            }
            body = _json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        env = {
            spec_mod.ENV_STREAM_ID: "rest-widgets",
            spec_mod.ENV_STREAM_KIND: "RestApi",
            spec_mod.ENV_BACKFILL: "true",
            spec_mod.ENV_SPEC: _json.dumps({
                "pageResolver": {
                    "resolverType": "COUNTER",
                    "resolverPropertyKeyChain": ["meta", "totalPages"],
                },
                "options": {
                    "urlTemplate": (
                        f"http://127.0.0.1:{port}/w?page=@page&from=@f"
                    ),
                    "templatedFields": [
                        {"fieldType": "RESPONSE_PAGE", "fieldName": "page"},
                        {"fieldType": "FILTER_DATE_BETWEEN_FROM",
                         "fieldName": "f", "formatString": "%Y-%m-%d"},
                    ],
                    "responsePropertyKeyChain": ["data", "items"],
                    "schemaDdl": "id LONG, name STRING",
                    "backfillStartUnixMillis": 1577836800000,  # 2020-01-01
                    "rangeStartUnixMillis": 1577836800000,
                    "rangeEndUnixMillis": 1577923200000,       # +1 day
                },
            }),
        }
        spec = spec_mod.from_env(env)
        assert spec.backfill and spec.page_resolver.resolver_type == "COUNTER"
        source = rest_source_from_spec(spark, spec)
        df = source.fetch_batch()
        rows = sorted((r.id, r.name) for r in df.collect())
        assert len(rows) == 6  # 3 pages x 2 rows, the COUNTER sweep
        assert rows[0] == (10, "p1r0") and rows[-1] == (31, "p3r1")
    finally:
        server.shutdown()


def test_rest_pipeline_from_spec_simple_provider(spark):
    """pageResolver absent -> SimpleUriProvider + one request per sweep,
    with the backfill date rendered from the spec's own fields."""
    import json as _json

    from arcane_framework_spark.plans import spec as spec_mod
    from arcane_framework_spark.sources.rest import rest_source_from_spec

    seen = []

    def fake_get(url, headers, timeout):
        seen.append((url, headers))
        return 200, _json.dumps(
            {"items": [{"id": 1, "name": "a"}]}
        )

    env = {
        spec_mod.ENV_BACKFILL: "true",
        spec_mod.ENV_SPEC: _json.dumps({
            "options": {
                "urlTemplate": "https://api/x?from=@d",
                "templatedFields": [
                    {"fieldType": "FILTER_DATE_FROM", "fieldName": "d",
                     "formatString": "%Y-%m-%d"},
                ],
                "responsePropertyKeyChain": ["items"],
                "schemaDdl": "id LONG, name STRING",
                "headers": {"X-Api-Key": "k1"},
                "backfillStartUnixMillis": 1577836800000,
            },
        }),
    }
    source = rest_source_from_spec(spark, spec_mod.from_env(env),
                                   http_get=fake_get)
    rows = [(r.id, r.name) for r in source.fetch_batch().collect()]
    assert rows == [(1, "a")]
    assert seen == [("https://api/x?from=2020-01-01", {"X-Api-Key": "k1"})]


def test_rest_pipeline_post_body_from_spec(spark):
    """BODY-placed fields must actually TRAVEL: a spec with a
    bodyTemplate builds a POST pipeline (the reference's
    GetNextResultUri returns (uri, requestMethod, payload) and the
    fetch loop sends all three) — verified against a live stub server
    that reads the date filter out of the POST body."""
    import http.server
    import json as _json
    import threading

    from arcane_framework_spark.plans import spec as spec_mod
    from arcane_framework_spark.sources.rest import rest_source_from_spec

    got_bodies = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            payload = _json.loads(self.rfile.read(n).decode())
            got_bodies.append(payload)
            body = _json.dumps({
                "items": [{"id": 7, "name": payload["updatedAfter"]}]
            }).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        env = {
            spec_mod.ENV_BACKFILL: "true",
            spec_mod.ENV_SPEC: _json.dumps({
                "options": {
                    "urlTemplate": f"http://127.0.0.1:{port}/search",
                    "bodyTemplate": '{"updatedAfter": "@d"}',
                    "templatedFields": [
                        {"fieldType": "FILTER_DATE_FROM", "fieldName": "d",
                         "formatString": "%Y-%m-%d",
                         "placement": "BODY"},
                    ],
                    "responsePropertyKeyChain": ["items"],
                    "schemaDdl": "id LONG, name STRING",
                    "backfillStartUnixMillis": 1577836800000,  # 2020-01-01
                },
            }),
        }
        source = rest_source_from_spec(spark, spec_mod.from_env(env))
        rows = [(r.id, r.name) for r in source.fetch_batch().collect()]
        # the server echoed the body's date back: the filter came from
        # the POST payload, not the URL
        assert rows == [(7, "2020-01-01")]
        assert got_bodies == [{"updatedAfter": "2020-01-01"}]
    finally:
        server.shutdown()


def test_rest_pipeline_bearer_auth_from_spec(spark):
    """Spec-declared dynamic bearer auth end-to-end: the token is fetched
    from the spec's tokenUrl (POST json body), cached until expiry, and
    every data request carries 'Authorization: Bearer <token>' — the
    reference's DynamicBearerAuthenticatedMessageProvider config surface
    with zero code."""
    import http.server
    import json as _json
    import threading

    from arcane_framework_spark.plans import spec as spec_mod
    from arcane_framework_spark.sources.rest import rest_source_from_spec

    token_calls = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            token_calls.append(_json.loads(self.rfile.read(n).decode()))
            self._reply({"access_token": "tok-xyz", "expires_in": 600})

        def do_GET(self):
            if self.headers.get("Authorization") != "Bearer tok-xyz":
                self.send_response(401)
                self.end_headers()
                return
            self._reply({"items": [{"id": 1, "name": "a"}]})

        def _reply(self, payload):
            body = _json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        env = {
            spec_mod.ENV_BACKFILL: "true",
            spec_mod.ENV_SPEC: _json.dumps({
                "options": {
                    "urlTemplate": f"http://127.0.0.1:{port}/data",
                    "responsePropertyKeyChain": ["items"],
                    "schemaDdl": "id LONG, name STRING",
                    "backfillStartUnixMillis": 1577836800000,
                    "bearerAuth": {
                        "tokenUrl": f"http://127.0.0.1:{port}/token",
                        "tokenProperty": "access_token",
                        "expiresInProperty": "expires_in",
                        "body": '{"client_id": "c1", "client_secret": "s1"}',
                    },
                },
            }),
        }
        source = rest_source_from_spec(spark, spec_mod.from_env(env))
        rows1 = [(r.id, r.name) for r in source.fetch_batch().collect()]
        rows2 = [(r.id, r.name) for r in source.fetch_batch().collect()]
        assert rows1 == rows2 == [(1, "a")]
        # one token fetch served both sweeps (cached until expiry-1min)
        assert token_calls == [{"client_id": "c1", "client_secret": "s1"}]
    finally:
        server.shutdown()


def _spec_rest_server():
    """Stub API exposing all three reference pagination protocols plus a
    date filter and an auth check, for the spec-driven DataSource tests."""
    import http.server
    import json as _json
    import threading
    from urllib.parse import parse_qs, urlparse

    all_rows = [{"id": i, "name": f"r{i}"} for i in range(10)]
    seen_paths: list = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            seen_paths.append(self.path)
            if self.headers.get("X-Api-Key") != "sekret":
                self.send_response(401)
                self.end_headers()
                return
            u = urlparse(self.path)
            q = parse_qs(u.query)
            if u.path == "/counter":
                page = int(q["page"][0])  # pages 1..3, 4 rows, 4, 2
                lo = (page - 1) * 4
                payload = {"meta": {"totalPages": 3},
                           "items": all_rows[lo:lo + 4]}
            elif u.path == "/offset":
                off = int(q["o"][0])  # short page ends the sweep
                payload = {"items": all_rows[off:off + 4]}
            elif u.path == "/token":
                t = q.get("t", [""])[0]
                idx = {"": 0, "t1": 4, "t2": 8}[t]
                nxt = {"": "t1", "t1": "t2", "t2": None}[t]
                payload = {"items": all_rows[idx:idx + 4]}
                if nxt:
                    payload["next"] = nxt
            else:
                self.send_response(404)
                self.end_headers()
                return
            body = _json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, server.server_address[1], seen_paths


def test_rest_datasource_spec_driven_all_resolver_types(spark):
    """The round-11 verdict #4 gap closed: format('arcane_rest') launched
    from the SAME STREAMCONTEXT__SPEC JSON the driver-loop face takes —
    PageResolverConfiguration (all three resolver types), templated
    fields, headers, schemaDdl (no .schema() call) — against the stub
    server. COUNTER fans out page-parallel from the probed total; OFFSET
    and TOKEN run the reference's sequential chain on an executor."""
    import json as _json

    from arcane_framework_spark.sources.rest_datasource import RestDataSource

    server, port, seen = _spec_rest_server()
    spark.dataSource.register(RestDataSource)
    base = f"http://127.0.0.1:{port}"

    def spec(url, resolver, extra_fields=()):
        return _json.dumps({"options": {
            "urlTemplate": url,
            "templatedFields": [
                {"fieldType": "RESPONSE_PAGE", "fieldName": "thePage",
                 "placement": "URL"},
                *extra_fields,
            ],
            "pageResolver": resolver,
            "responsePropertyKeyChain": ["items"],
            "schemaDdl": "id LONG, name STRING",
            "headers": {"X-Api-Key": "sekret"},
        }})

    want = sorted((i, f"r{i}") for i in range(10))
    try:
        counter = (
            spark.read.format("arcane_rest")
            .option("spec", spec(
                base + "/counter?page=@thePage",
                {"resolverType": "COUNTER",
                 "resolverPropertyKeyChain": ["meta", "totalPages"]},
            ))
            .load()
        )
        assert counter.schema.simpleString() == "struct<id:bigint,name:string>"
        assert counter.rdd.getNumPartitions() == 3  # probed total
        assert sorted((r.id, r.name) for r in counter.collect()) == want

        offset = (
            spark.read.format("arcane_rest")
            .option("spec", spec(
                base + "/offset?o=@thePage",
                {"resolverType": "OFFSET", "responseSize": 4,
                 "startOffset": 0},
            ))
            .load()
        )
        assert sorted((r.id, r.name) for r in offset.collect()) == want
        # the short page (2 rows at o=8) ended the sweep: no o=12 request
        assert not any("o=12" in p for p in seen)

        token = (
            spark.read.format("arcane_rest")
            .option("spec", spec(
                base + "/token?t=@thePage",
                {"resolverType": "TOKEN",
                 "resolverPropertyKeyChain": ["next"]},
            ))
            .load()
        )
        assert sorted((r.id, r.name) for r in token.collect()) == want
        # chain walked exactly "" -> t1 -> t2, stopped on missing token
        assert [p for p in seen if p.startswith("/token")] == [
            "/token?t=", "/token?t=t1", "/token?t=t2",
        ]
    finally:
        server.shutdown()


def test_rest_datasource_spec_date_fields_and_overrides(spark):
    """Spec date fields on the DataSource face: without a declared range
    the FROM/TO fields render at translation time from
    backfillStartUnixMillis / rangeEndUnixMillis with each field's own
    formatString (SimpleUriProvider semantics: absent fields are skipped
    silently); a BODY-placed field without a bodyTemplate is an explicit
    error (with one, it travels — tests/test_wave8.py); explicit reader
    options override spec-derived ones."""
    import json as _json

    import pytest

    from arcane_framework_spark.sources.rest_datasource import (
        RestDataSource,
        options_from_spec,
    )

    server, port, seen = _spec_rest_server()
    spark.dataSource.register(RestDataSource)
    try:
        payload = {"options": {
            "urlTemplate": f"http://127.0.0.1:{port}/counter"
                           "?page=@p&from=@dFrom&to=@dTo",
            "templatedFields": [
                {"fieldType": "RESPONSE_PAGE", "fieldName": "p"},
                {"fieldType": "FILTER_DATE_BETWEEN_FROM",
                 "fieldName": "dFrom", "formatString": "%Y-%m-%d"},
                {"fieldType": "FILTER_DATE_BETWEEN_TO",
                 "fieldName": "dTo", "formatString": "%Y%m%d"},
            ],
            "pageResolver": {"resolverType": "COUNTER",
                             "resolverPropertyKeyChain": ["meta",
                                                          "totalPages"]},
            "responsePropertyKeyChain": ["items"],
            "schemaDdl": "id LONG, name STRING",
            "headers": {"X-Api-Key": "sekret"},
            "backfillStartUnixMillis": 1577836800000,   # 2020-01-01
            "rangeEndUnixMillis": 1577923200000,        # 2020-01-02
        }}
        df = (
            spark.read.format("arcane_rest")
            .option("spec", _json.dumps(payload))
            .load()
        )
        assert df.count() == 10
        assert any(
            "from=2020-01-01&to=20200102" in p for p in seen
        ), seen[-3:]

        # explicit option beats the spec-derived one
        opts = options_from_spec(_json.dumps(payload))
        assert opts["key_chain"] == "items"
        narrowed = (
            spark.read.format("arcane_rest")
            .option("spec", _json.dumps(payload))
            .option("key_chain", "missing.path")
            .load()
        )
        assert narrowed.count() == 0

        # BODY placement is supported on this face now (r12 verdict #5,
        # e2e in tests/test_wave8.py) — but only WITH a bodyTemplate to
        # resolve into; without one the filter would silently drop, so
        # the spec fails at parse exactly like the driver-loop face.
        bad = {"options": {
            "urlTemplate": "http://x/?page=@p",
            "templatedFields": [
                {"fieldType": "RESPONSE_PAGE", "fieldName": "p",
                 "placement": "BODY"},
            ],
            "pageResolver": {"resolverType": "COUNTER",
                             "resolverPropertyKeyChain": ["n"]},
            "schemaDdl": "id LONG",
        }}
        with pytest.raises(Exception, match="BODY-placed"):
            spark.read.format("arcane_rest").option(
                "spec", _json.dumps(bad)
            ).load().count()
    finally:
        server.shutdown()


def test_rest_datasource_spec_streaming_offset_terminates(spark, tmp_path):
    """Spec-driven OFFSET pagination on the STREAMING face: one offset
    step per micro-batch, the short page is terminal (a 'done' offset —
    distinct from an empty-page hold), so an availableNow-style bounded
    drain sees every row exactly once."""
    import json as _json
    import time as _time

    from arcane_framework_spark.sources.rest_datasource import RestDataSource

    server, port, seen = _spec_rest_server()
    spark.dataSource.register(RestDataSource)
    try:
        spec = _json.dumps({"options": {
            "urlTemplate": f"http://127.0.0.1:{port}/offset?o=@pg",
            "templatedFields": [
                {"fieldType": "RESPONSE_PAGE", "fieldName": "pg"},
            ],
            "pageResolver": {"resolverType": "OFFSET", "responseSize": 4},
            "responsePropertyKeyChain": ["items"],
            "schemaDdl": "id LONG, name STRING",
            "headers": {"X-Api-Key": "sekret"},
        }})
        stream = (
            spark.readStream.format("arcane_rest")
            .option("spec", spec)
            .load()
        )
        q = (
            stream.writeStream.format("memory").queryName("rest_spec_off")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            deadline = _time.time() + 90
            rows: list = []
            while _time.time() < deadline:
                rows = [r.id for r in spark.table("rest_spec_off").collect()]
                if len(rows) >= 10:
                    break
                _time.sleep(1)
        finally:
            q.stop()
        assert sorted(rows) == list(range(10))  # exactly once, then done
        # terminal: no request past the short page's offset
        assert not any("o=12" in p for p in seen)
    finally:
        server.shutdown()
