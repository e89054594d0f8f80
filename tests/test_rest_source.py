"""REST/OData source tests (S1-S5, P1-P2) on local fixture pages —
the engine analog of FIXTURES.md §B.b3."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from msgraphdatapipelines_spark.sources import rest

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("operatingSystem", T.StringType()),
        T.StructField("osVersion", T.StringType()),
        T.StructField("errorCode", T.LongType()),
    ]
)


@pytest.fixture()
def pages(tmp_path):
    """Three chained pages; last page has no nextLink (S2 golden)."""
    recs = [
        {"id": f"r{i}", "operatingSystem": "Windows" if i % 2 == 0 else "macOS",
         "osVersion": f"10.{i}", "errorCode": i}
        for i in range(9)
    ]
    paths = [tmp_path / f"page{i}.json" for i in range(3)]
    for i, p in enumerate(paths):
        body = {"value": recs[i * 3 : (i + 1) * 3]}
        if i < 2:
            body["@odata.nextLink"] = str(paths[i + 1])
        p.write_text(json.dumps(body))
    return str(paths[0]), recs


def test_pagination_union(spark, pages):
    first, recs = pages
    df = rest.read_odata(spark, first, SCHEMA)
    assert sorted(r["id"] for r in df.collect()) == sorted(r["id"] for r in recs)


def test_select_and_filter_pushdown(spark, pages):
    first, _ = pages
    df = rest.read_odata(
        spark,
        first,
        SCHEMA,
        select=["id", "operatingSystem"],
        filter_expr="operatingSystem eq 'Windows'",
    )
    rows = df.collect()
    assert df.columns == ["id", "operatingSystem"]
    assert rows and all(r["operatingSystem"] == "Windows" for r in rows)


def test_429_retry_succeeds_within_budget(pages):
    first, recs = pages
    attempts = {"n": 0}
    sleeps: list[float] = []

    def flaky(url: str) -> str:
        if url == first:
            attempts["n"] += 1
            if attempts["n"] <= 2:  # 429 twice, then succeed (FIXTURES §B.b3)
                raise rest.ThrottledError(url)
        return rest.file_fetcher(url)

    bodies = rest.fetch_pages(
        first, fetcher=flaky, retry=rest.RetryPolicy(max_retries=5, sleep_s=30), sleeper=sleeps.append
    )
    assert len(bodies) == 3
    assert sleeps == [30, 30]  # reference: constant 30 s sleeps


def test_429_budget_exhausted_raises():
    def always_throttled(url: str) -> str:
        raise rest.ThrottledError(url)

    with pytest.raises(rest.ThrottledError):
        rest.fetch_pages(
            "x", fetcher=always_throttled, retry=rest.RetryPolicy(max_retries=2, sleep_s=0), sleeper=lambda s: None
        )


def test_entity_failure_isolation(spark, pages):
    """S5 — one failing endpoint doesn't abort the run (`Export…ps1:204-208`)."""
    from msgraphdatapipelines_spark.pipelines import Pipeline, run_all

    first, _ = pages

    def bad_source(s):
        raise rest.ThrottledError("endpoint down")

    results = run_all(
        spark,
        [
            Pipeline("bad", bad_source),
            Pipeline("good", lambda s: rest.read_odata(s, first, SCHEMA)),
        ],
    )
    assert [r.ok for r in results] == [False, True]
    assert results[1].rows == 9


def test_odata_filter_grammar(spark, pages):
    first, _ = pages
    df = rest.read_odata(
        spark, first, SCHEMA,
        filter_expr="errorCode gt 3 and operatingSystem eq 'Windows' or errorCode le 1",
    )
    ids = sorted(r["errorCode"] for r in df.collect())
    # (ec>3 and os='Windows') or ec<=1  → ec in {0,1} ∪ {4,6,8}
    assert ids == [0, 1, 4, 6, 8]


def test_orderby_top_pushdown_and_client_reapply(spark, pages):
    """$orderby/$top: emitted in the URL for the server, re-applied
    client-side as sort().limit() — a TakeOrderedAndProject top-k, so a
    server that ignored the options (like the file fixture) still returns
    the right rows."""
    first, recs = pages
    url = rest.build_url("https://g/devices", orderby="errorCode desc", top=3)
    assert ("%24orderby=errorCode+desc" in url) or ("$orderby=errorCode desc" in url)
    assert "%24top=3" in url or "$top=3" in url
    df = rest.read_odata(spark, first, SCHEMA, orderby="errorCode desc", top=3)
    got = [r["errorCode"] for r in df.collect()]
    assert got == sorted((r["errorCode"] for r in recs), reverse=True)[:3]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort
    with pytest.raises(ValueError):
        rest._orderby_to_columns("errorCode sideways")


def test_orderby_outside_select_sorts_then_projects(spark, pages):
    """r4 ADVICE: $orderby by a property NOT in $select is legal OData —
    the client-side re-apply must sort before projecting (the old
    select-first order raised AnalysisException)."""
    first, _ = pages
    df = rest.read_odata(
        spark, first, SCHEMA, select=["id"], orderby="errorCode desc", top=2
    )
    assert df.columns == ["id"]
    assert [r["id"] for r in df.collect()] == ["r8", "r7"]


def test_filter_outside_select(spark, pages):
    """Same evaluation-order contract for $filter on an unprojected prop."""
    first, _ = pages
    df = rest.read_odata(
        spark, first, SCHEMA, select=["id"], filter_expr="errorCode ge 7"
    )
    assert df.columns == ["id"]
    assert sorted(r["id"] for r in df.collect()) == ["r7", "r8"]


def test_token_provider_retries_transient_failures():
    """ADVICE fix: token acquisition retries ANY exception (reference's
    ≤5-try loop around Get-AzAccessToken), not just ThrottledError."""
    attempts = {"n": 0}
    sleeps: list[float] = []

    def flaky_acquire() -> str:
        attempts["n"] += 1
        if attempts["n"] <= 2:
            raise RuntimeError("identity endpoint hiccup")
        return "tok-ok"

    tp = rest.TokenProvider(flaky_acquire, sleeper=sleeps.append)
    assert tp.token() == "tok-ok"
    assert sleeps == [10.0, 10.0]
    assert tp.token() == "tok-ok" and attempts["n"] == 3  # cached


def test_expand_survives_select(spark, tmp_path):
    """P3 e2e — $expand emitted in the URL; expanded nested collection
    survives ingestion alongside $select and is consumable (explode +
    dot access), matching `Invoke…ps1:70-80`."""
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("displayName", T.StringType()),
            T.StructField(
                "members",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("userId", T.StringType()),
                            T.StructField("userPrincipalName", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )
    page = tmp_path / "groups.json"
    page.write_text(
        json.dumps(
            {
                "value": [
                    {
                        "id": "g1",
                        "displayName": "Admins",
                        "members": [
                            {"userId": "u1", "userPrincipalName": "a@x"},
                            {"userId": "u2", "userPrincipalName": "b@x"},
                        ],
                    },
                    {"id": "g2", "displayName": "Empty", "members": []},
                ]
            }
        )
    )
    df = rest.read_odata(
        spark, str(page), schema, select=["id", "displayName"], expand="members"
    )
    assert set(df.columns) == {"id", "displayName", "members"}
    from msgraphdatapipelines_spark.operators import flatten

    exploded = flatten.explode_array(df, "members", keep=["id"])
    rows = {(r["id"], r["member"]["userId"]) for r in exploded.collect()}
    assert rows == {("g1", "u1"), ("g1", "u2")}
    upns = sorted(
        r["upn"]
        for r in exploded.select(
            exploded["member"]["userPrincipalName"].alias("upn")
        ).collect()
    )
    assert upns == ["a@x", "b@x"]


# ---------------------------------------------------------------------------
# Delta-query incremental ingest (r4 VERDICT item 2)
# ---------------------------------------------------------------------------


@pytest.fixture()
def delta_pages(tmp_path):
    """Initial sync: two chained pages ending in a deltaLink; second round:
    one page (reachable via that deltaLink) with an update, an addition,
    and an @removed tombstone, ending in a fresh deltaLink."""
    p0, p1, p2 = (tmp_path / f"delta{i}.json" for i in range(3))
    p0.write_text(json.dumps({
        "value": [
            {"id": "a", "operatingSystem": "Windows", "osVersion": "10.0", "errorCode": 0},
            {"id": "b", "operatingSystem": "macOS", "osVersion": "14.1", "errorCode": 1},
        ],
        "@odata.nextLink": str(p1),
    }))
    p1.write_text(json.dumps({
        "value": [
            {"id": "c", "operatingSystem": "Windows", "osVersion": "11.0", "errorCode": 2},
        ],
        "@odata.deltaLink": str(p2),
    }))
    p2.write_text(json.dumps({
        "value": [
            {"id": "b", "operatingSystem": "macOS", "osVersion": "15.0", "errorCode": 9},
            {"id": "d", "operatingSystem": "Linux", "osVersion": "6.5", "errorCode": 3},
            {"id": "a", "@removed": {"reason": "deleted"}},
        ],
        "@odata.deltaLink": str(p2) + "?round=3",
    }))
    return str(p0), str(p2)


def test_delta_initial_sync_returns_resume_token(spark, delta_pages, tmp_path):
    first, second = delta_pages
    state = str(tmp_path / "state" / "orders.deltalink")
    import os

    os.makedirs(os.path.dirname(state))
    df, link = rest.read_odata_delta(spark, first, SCHEMA, state_path=state)
    assert sorted(r["id"] for r in df.collect()) == ["a", "b", "c"]
    assert all(not r["_removed"] for r in df.collect())
    assert link == second
    # r5 ADVICE: the read itself must NOT advance the resume token — a crash
    # between read and apply must re-sync the same window.  The caller
    # commits only after the batch is durably applied.
    assert rest.load_delta_state(state) is None
    rest.save_delta_state(state, link)
    assert rest.load_delta_state(state) == second


def test_delta_resume_parses_tombstones_and_applies(spark, delta_pages, tmp_path):
    """Round 2 resumes from the persisted deltaLink (never re-fetching the
    initial pages — pinned by a fetch counter), parses the @removed
    tombstone, and sinks.apply_delta folds the batch into the snapshot."""
    from msgraphdatapipelines_spark import sinks

    first, second = delta_pages
    state = str(tmp_path / "orders.deltalink")
    snap, link0 = rest.read_odata_delta(spark, first, SCHEMA, state_path=state)
    snapshot = snap.drop("_removed")
    rest.save_delta_state(state, link0)  # commit after the batch is applied

    fetched = []

    def counting_fetcher(url: str) -> str:
        fetched.append(url)
        return rest.file_fetcher(url)

    delta, link = rest.read_odata_delta(
        spark, first, SCHEMA, state_path=state, fetcher=counting_fetcher
    )
    assert fetched == [second]  # resumed from the token, not first_url
    assert link == second + "?round=3"
    assert rest.load_delta_state(state) == second  # not yet committed
    rows = {r["id"]: r for r in delta.collect()}
    assert rows["a"]["_removed"] is True and rows["a"]["operatingSystem"] is None
    assert rows["b"]["_removed"] is False and rows["b"]["osVersion"] == "15.0"

    final = {r["id"]: r for r in sinks.apply_delta(snapshot, delta, ["id"]).collect()}
    assert sorted(final) == ["b", "c", "d"]  # a deleted, d added
    assert final["b"]["osVersion"] == "15.0"  # updated
    assert final["c"]["osVersion"] == "11.0"  # untouched history survives
    rest.save_delta_state(state, link)
    assert rest.load_delta_state(state) == link


def test_delta_sync_stream_two_rounds(spark, delta_pages, tmp_path):
    """r5 VERDICT item 8: continuous incremental sync — a real stream whose
    micro-batches each pull one delta round, apply it to the parquet
    snapshot, and only then commit the resume token.  Two staged rounds
    (initial sync + change batch with update/insert/tombstone) must leave
    the snapshot equal to the two-round apply and the state at the final
    deltaLink."""
    from msgraphdatapipelines_spark.streaming.delta import delta_sync_stream

    first, second = delta_pages
    tick_dir = tmp_path / "ticks"
    tick_dir.mkdir()
    (tick_dir / "t0.txt").write_text("round0")
    (tick_dir / "t1.txt").write_text("round1")
    state = str(tmp_path / "delta.state")
    snapshot = str(tmp_path / "snapshot")
    q = delta_sync_stream(
        spark, str(tick_dir), first, SCHEMA, state, snapshot, ["id"]
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from msgraphdatapipelines_spark import sinks

    final = {r["id"]: r for r in sinks.read_snapshot(spark, snapshot).collect()}
    assert sorted(final) == ["b", "c", "d"]  # a deleted, d added
    assert final["b"]["osVersion"] == "15.0"  # updated in round 2
    assert final["c"]["osVersion"] == "11.0"  # untouched history survives
    assert rest.load_delta_state(state) == second + "?round=3"
    # r8: each round published a NEW version (crash-safe, time-travelable);
    # round 1's pre-change snapshot is still readable
    assert sinks.snapshot_versions(spark, snapshot) == [1, 2]
    v1 = {r["id"] for r in sinks.read_snapshot(spark, snapshot, version=1).collect()}
    assert v1 == {"a", "b", "c"}


def test_delta_sync_stream_failed_round_does_not_advance_token(
    spark, delta_pages, tmp_path
):
    """Commit protocol under failure: if the apply/write phase of a round
    blows up, the resume token must NOT move — a restarted stream replays
    the same change window (crash-safety the r5 ADVICE demanded)."""
    from msgraphdatapipelines_spark.streaming.delta import delta_sync_stream

    first, second = delta_pages
    tick_dir = tmp_path / "ticks"
    tick_dir.mkdir()
    (tick_dir / "t0.txt").write_text("round0")
    state = str(tmp_path / "delta.state")
    snapshot = str(tmp_path / "snapshot")

    calls = []

    def failing_fetcher(url: str) -> str:
        calls.append(url)
        if len(calls) > 1:
            raise RuntimeError("network down mid-walk")
        return rest.file_fetcher(url)

    q = delta_sync_stream(
        spark, str(tick_dir), first, SCHEMA, state, snapshot, ["id"],
        fetcher=failing_fetcher,
    )
    import pyspark.errors

    try:
        with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
            q.processAllAvailable()
    finally:
        q.stop()
    assert rest.load_delta_state(state) is None  # token never advanced


def test_delta_scale_path_single_fetch_with_spill_dir(spark, tmp_path):
    """With a spill_dir, the >threshold delta sync fetches every page
    exactly ONCE: the deltaLink walk spills each body and the spilled
    files are read back on the JVM instead of re-walking the chain.  The
    lane needs neither the default fetcher nor the DataSource API, so an
    injected (non-file) fetcher takes it too."""
    base = "https://graph.example/v1.0/deviceManagement/managedDevices/delta"
    urls = [base] + [f"{base}?$skiptoken=t{i}" for i in range(1, 5)]
    served = {}
    for i, u in enumerate(urls):
        body = {"value": [{"id": f"r{i}", "operatingSystem": "Windows",
                           "osVersion": "11", "errorCode": i}]}
        if i == 2:
            body["value"].append({"id": "gone", "@removed": {"reason": "deleted"}})
        if i < 4:
            body["@odata.nextLink"] = urls[i + 1]
        else:
            body["@odata.deltaLink"] = f"{base}?$deltatoken=next"
        served[u] = json.dumps(body)
    calls: list[str] = []

    def fetch(url: str) -> str:
        calls.append(url)
        return served[url]

    spill = tmp_path / "spill"
    spill.mkdir()
    df, link = rest.read_odata_delta(
        spark, base, SCHEMA, fetcher=fetch, datasource_page_threshold=2,
        spill_dir=str(spill),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan text" in plan and "BatchScan odata" not in plan
    assert calls == urls  # every page fetched exactly once, in chain order
    assert len(list(spill.glob("delta-page-*.json"))) == 5
    rows = {r["id"]: r for r in df.collect()}
    assert sorted(rows) == ["gone", "r0", "r1", "r2", "r3", "r4"]
    assert rows["gone"]["_removed"] is True and rows["gone"]["osVersion"] is None
    assert not any(rows[f"r{i}"]["_removed"] for i in range(5))
    assert link == f"{base}?$deltatoken=next"


DEVICE = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("azureADRegistered", T.BooleanType()),
        T.StructField("errorCount", T.LongType()),
        T.StructField(
            "hardwareInformation",
            T.StructType(
                [
                    T.StructField("serialNumber", T.StringType()),
                    T.StructField("totalStorageSpaceInBytes", T.LongType()),
                ]
            ),
        ),
        T.StructField(
            "deviceActionResults",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("actionName", T.StringType()),
                        T.StructField("actionState", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def test_delta_spill_lane_decodes_like_driver_lane(spark, tmp_path):
    """A page decodes the same way whichever lane of ``read_odata_delta``
    it lands on: the spilled-file scale lane (past the page threshold,
    ``spill_dir`` set), the driver lane, and a walk past the threshold
    with no ``spill_dir`` all run ``from_json``, so
    tombstones, nested structs, arrays of structs, undeclared and missing
    properties, empty pages and mistyped values (NULL in that field, the
    rest of the record kept) come out as the same rows."""
    hw = {"serialNumber": "SN1", "totalStorageSpaceInBytes": 512}
    actions = [{"actionName": "sync", "actionState": "done", "extra": 1}]
    page_values = [
        [
            {"id": "d1", "azureADRegistered": True, "errorCount": 0,
             "hardwareInformation": hw, "deviceActionResults": actions},
            # undeclared property dropped, missing properties NULL
            {"id": "d2", "azureADRegistered": False, "undeclared": "x"},
        ],
        [],  # an empty page
        [
            {"id": "gone", "@removed": {"reason": "deleted"}},
            {"id": "d3", "azureADRegistered": "yes", "errorCount": 3},
        ],
        [{"id": "d4", "azureADRegistered": True, "errorCount": "seven",
          "hardwareInformation": {"serialNumber": "SN4"}}],
        [{"id": "d5", "deviceActionResults": []}],
    ]
    paths = [tmp_path / f"dev{i}.json" for i in range(len(page_values))]
    for i, (p, value) in enumerate(zip(paths, page_values)):
        body = {"value": value}
        if i < len(paths) - 1:
            body["@odata.nextLink"] = str(paths[i + 1])
        else:
            body["@odata.deltaLink"] = "tok-devices"
        p.write_text(json.dumps(body))
    expected = {
        "d1": ("d1", True, 0, {"serialNumber": "SN1", "totalStorageSpaceInBytes": 512},
               [{"actionName": "sync", "actionState": "done"}], False),
        "d2": ("d2", False, None, None, None, False),
        "gone": ("gone", None, None, None, None, True),
        "d3": ("d3", None, 3, None, None, False),
        "d4": ("d4", True, None, {"serialNumber": "SN4", "totalStorageSpaceInBytes": None},
               None, False),
        "d5": ("d5", None, None, None, [], False),
    }
    names = [f.name for f in DEVICE.fields] + ["_removed"]

    def rows(df):
        out = {}
        for r in df.collect():
            d = r.asDict(recursive=True)
            out[d["id"]] = tuple(d[n] for n in names)
        return out

    spill = tmp_path / "spill"
    spill.mkdir()
    spilled, link = rest.read_odata_delta(
        spark, str(paths[0]), DEVICE, datasource_page_threshold=2, spill_dir=str(spill)
    )
    plan = spilled._jdf.queryExecution().executedPlan().toString()
    assert "FileScan text" in plan and "BatchScan odata" not in plan
    assert rows(spilled) == expected and link == "tok-devices"

    held, link2 = rest.read_odata_delta(
        spark, str(paths[0]), DEVICE, datasource_page_threshold=100
    )
    assert rows(held) == expected and link2 == "tok-devices"

    # past the threshold with no spill_dir: the walk finishes on the driver
    walked, link3 = rest.read_odata_delta(
        spark, str(paths[0]), DEVICE, datasource_page_threshold=2
    )
    plan = walked._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan odata" not in plan and "FileScan text" not in plan
    assert rows(walked) == expected and link3 == "tok-devices"


def test_429_honors_retry_after_hint():
    """r6: a ThrottledError carrying the server's Retry-After sleeps that
    many seconds (capped) instead of the fixed policy interval; hint-less
    throttles keep the reference's fixed-sleep behavior."""
    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise rest.ThrottledError("u", retry_after=7.5)
        if calls["n"] == 2:
            raise rest.ThrottledError("u")  # no hint → policy sleep
        if calls["n"] == 3:
            raise rest.ThrottledError("u", retry_after=9999.0)  # hostile → cap
        return "ok"

    policy = rest.RetryPolicy(max_retries=5, sleep_s=30.0, max_retry_after_s=300.0)
    assert policy.run(flaky, sleeper=sleeps.append) == "ok"
    assert sleeps == [7.5, 30.0, 300.0]


def test_scd2_sync_stream_builds_full_history(spark, delta_pages, tmp_path):
    """Continuous SCD2 (r7): the delta sync stream folding through
    apply_scd2 leaves a full validity-interval history — the deleted key's
    interval closes without reopening, the updated key chains two
    versions, untouched and inserted keys carry one current row each."""
    import datetime as dt

    from msgraphdatapipelines_spark.streaming.delta import scd2_sync_stream

    first, _second = delta_pages
    tick_dir = tmp_path / "ticks"
    tick_dir.mkdir()
    (tick_dir / "t0.txt").write_text("round0")
    (tick_dir / "t1.txt").write_text("round1")
    state = str(tmp_path / "delta.state")
    history = str(tmp_path / "history")
    t = {0: dt.datetime(2024, 1, 1), 1: dt.datetime(2024, 6, 1)}
    q = scd2_sync_stream(
        spark, str(tick_dir), first, SCHEMA, state, history, ["id"],
        effective_for_round=lambda b: t[b],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from msgraphdatapipelines_spark import sinks

    rows = sorted(
        sinks.read_scd2_history(spark, history).collect(),
        key=lambda r: (r["id"], r["valid_from"]),
    )
    got = [
        (r["id"], r["osVersion"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in rows
    ]
    assert got == [
        ("a", "10.0", t[0], t[1], False),   # tombstone closed, never reopened
        ("b", "14.1", t[0], t[1], False),   # v1 closed at the update round
        ("b", "15.0", t[1], None, True),    # v2 current
        ("c", "11.0", t[0], None, True),    # untouched
        ("d", "6.5", t[1], None, True),     # inserted in round 2
    ]


def test_scd2_sync_stream_failed_round_preserves_history(
    spark, delta_pages, tmp_path
):
    """r8 (r7 ADVICE item 2): a round that fails AFTER a history exists
    must leave the previous history fully intact and the token unmoved —
    previously a mode('overwrite') of the sole copy plus a bare `except`
    could silently restart from an EMPTY history.  Round 1 commits; round
    2's fetch blows up mid-walk; the history must still be round 1's."""
    import datetime as dt

    import pyspark.errors

    from msgraphdatapipelines_spark import sinks
    from msgraphdatapipelines_spark.streaming.delta import scd2_sync_stream

    first, _second = delta_pages
    tick_dir = tmp_path / "ticks"
    tick_dir.mkdir()
    (tick_dir / "t0.txt").write_text("round0")
    state = str(tmp_path / "delta.state")
    history = str(tmp_path / "history")
    t = {0: dt.datetime(2024, 1, 1), 1: dt.datetime(2024, 6, 1)}

    rounds = {"n": 0}

    def flaky_fetcher(url: str) -> str:
        if rounds["n"] >= 1:
            raise RuntimeError("network down in round 2")
        return rest.file_fetcher(url)

    q = scd2_sync_stream(
        spark, str(tick_dir), first, SCHEMA, state, history, ["id"],
        fetcher=flaky_fetcher, effective_for_round=lambda b: t[b],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    token_after_r1 = rest.load_delta_state(state)
    assert token_after_r1 is not None
    rounds["n"] = 1
    (tick_dir / "t1.txt").write_text("round1")
    q = scd2_sync_stream(
        spark, str(tick_dir), first, SCHEMA, state, history, ["id"],
        fetcher=flaky_fetcher, effective_for_round=lambda b: t[1],
    )
    try:
        with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
            q.processAllAvailable()
    finally:
        q.stop()
    # token did not advance; history is exactly round 1's (3 current rows)
    assert rest.load_delta_state(state) == token_after_r1
    rows = sinks.read_scd2_history(spark, history).collect()
    assert sorted(r["id"] for r in rows) == ["a", "b", "c"]
    assert all(r["is_current"] for r in rows)


# --- r11 (r10 VERDICT item 9): page-range planner -----------------------------


@pytest.fixture()
def range_pages(tmp_path):
    """Skip-paged fixture: 6 range files of 20 records + a /$count body +
    the equivalent sequential nextLink chain over the SAME records."""
    recs = [
        {"id": f"r{i}", "operatingSystem": "Windows" if i % 2 == 0 else "macOS",
         "osVersion": f"10.{i}", "errorCode": i}
        for i in range(120)
    ]
    rdir = tmp_path / "ranges"
    rdir.mkdir()
    for skip in range(0, 120, 20):
        (rdir / f"skip{skip}.json").write_text(
            json.dumps({"value": recs[skip : skip + 20]})
        )
    (tmp_path / "count.txt").write_text("120\n")
    seq = [tmp_path / f"seq{i}.json" for i in range(6)]
    for i, p in enumerate(seq):
        body = {"value": recs[i * 20 : (i + 1) * 20]}
        if i < 5:
            body["@odata.nextLink"] = str(seq[i + 1])
        p.write_text(json.dumps(body))
    template = str(rdir / "skip{skip}.json")
    return template, str(tmp_path / "count.txt"), str(seq[0]), recs


def test_page_range_planner_parallel_equals_sequential(spark, range_pages, tmp_path):
    """The planner must (a) do ONE driver-side count probe and emit one
    partition per range with NO body prefetch, (b) fetch ranges on
    executors CONCURRENTLY (rendezvous proof: each fetch waits up to 10 s
    for a second in-flight fetch — a sequential executor would pay the
    full wait per partition, so a fast wall proves >1 concurrent fetch),
    and (c) equal the sequential cursor read order-insensitively."""
    import time

    template, count_url, seq_first, recs = range_pages
    if not rest.register_odata_source(spark):
        pytest.skip("Python DataSource API unavailable")

    # driver-side planning: one count fetch, one range url per partition
    reader = rest.ODataReader(
        {"skip_url_template": template, "page_size": "20", "count_url": count_url}
    )
    parts = reader.partitions()
    assert len(parts) == 6
    assert [p.urls for p in parts] == [
        [template.format(skip=s, top=20)] for s in range(0, 120, 20)
    ]

    trace = tmp_path / "trace"
    t0 = time.monotonic()
    bodies = (
        spark.read.format("odata")
        .option("skip_url_template", template)
        .option("page_size", "20")
        .option("count_url", count_url)
        .option("fetch_trace_dir", str(trace))
        .option("fetch_trace_rendezvous_s", "10")
        .load()
    )
    df = rest.parse_odata_envelope(bodies, SCHEMA)
    got = sorted((r["id"], r["errorCode"]) for r in df.collect())
    wall = time.monotonic() - t0
    assert df.rdd.getNumPartitions() == 6
    assert len(list(trace.glob("start-*"))) == 6
    # sequential execution would pay ≥ 10 s rendezvous on the first fetch
    assert wall < 8, f"range fetches ran sequentially (wall={wall:.1f}s)"

    seq_df = rest.read_odata(spark, seq_first, SCHEMA)
    want = sorted((r["id"], r["errorCode"]) for r in seq_df.collect())
    assert got == want == sorted((r["id"], r["errorCode"]) for r in recs)


def test_read_odata_auto_switches_to_range_planner(spark, range_pages):
    """read_odata with skip_url_template + page_size goes straight to the
    DSv2 range path (no sequential cursor walk) and returns the full
    collection."""
    template, count_url, _, recs = range_pages
    if not rest.HAS_PYTHON_DATASOURCE:
        pytest.skip("Python DataSource API unavailable")
    df = rest.read_odata(
        spark, template, SCHEMA,
        skip_url_template=template, page_size=20, count_url=count_url,
    )
    assert df.rdd.getNumPartitions() == 6
    assert sorted(r["id"] for r in df.collect()) == sorted(r["id"] for r in recs)


def test_range_planner_decodes_like_cursor_lane(spark, tmp_path):
    """Skip-paged pages go through the same ``from_json`` decode as a
    cursor walk: a mistyped value (``"yes"`` for a BooleanType field) is
    NULL in that field and the rest of that record and its page survive."""
    if not rest.HAS_PYTHON_DATASOURCE:
        pytest.skip("Python DataSource API unavailable")
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("azureADRegistered", T.BooleanType()),
            T.StructField("errorCount", T.LongType()),
        ]
    )
    values = [
        [{"id": "d0", "azureADRegistered": True, "errorCount": 0},
         {"id": "d1", "azureADRegistered": "yes", "errorCount": 1}],
        [{"id": "d2", "azureADRegistered": False, "errorCount": "two"},
         {"id": "d3"}],
    ]
    for i, value in enumerate(values):
        (tmp_path / f"skip{i * 2}.json").write_text(json.dumps({"value": value}))
    (tmp_path / "count.txt").write_text("4")
    df = rest.read_odata(
        spark, str(tmp_path / "skip0.json"), schema,
        skip_url_template=str(tmp_path / "skip{skip}.json"), page_size=2,
        count_url=str(tmp_path / "count.txt"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan odata" in plan
    assert df.columns == ["id", "azureADRegistered", "errorCount"]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("d0", True, 0), ("d1", None, 1), ("d2", False, None), ("d3", None, None),
    ]
    # the planner names the options it cannot plan without
    with pytest.raises(ValueError, match="skip_url_template.*page_size"):
        rest.ODataReader({"count_url": str(tmp_path / "count.txt")}).partitions()

# --- r12 (r11 VERDICT item 3): throttle governance for the range planner ------


def test_page_range_concurrency_budget_bounds_parallel_fetches(
    spark, range_pages, tmp_path
):
    """max_concurrent_fetch=N bounds simultaneous fetches STRUCTURALLY:
    the planner emits exactly N partitions, each walking its chunk of
    page urls sequentially — no semaphore, works on any cluster size —
    and the result equals the unbounded plan."""
    template, count_url, seq_first, recs = range_pages
    if not rest.register_odata_source(spark):
        pytest.skip("Python DataSource API unavailable")
    reader = rest.ODataReader(
        {"skip_url_template": template, "page_size": "20",
         "count_url": count_url, "max_concurrent_fetch": "2"},
    )
    parts = reader.partitions()
    assert len(parts) == 2
    assert sorted(u for p in parts for u in p.urls) == sorted(
        template.format(skip=s, top=20) for s in range(0, 120, 20)
    )
    df = rest.read_odata(
        spark, template, SCHEMA,
        skip_url_template=template, page_size=20, count_url=count_url,
        max_concurrent_fetch=2,
    )
    assert df.rdd.getNumPartitions() == 2
    assert sorted(r["id"] for r in df.collect()) == sorted(r["id"] for r in recs)


def test_page_range_top_cap_prunes_plan_only_when_safe(spark, range_pages):
    """r12 (ADVICE): $top caps the planned skip range (3 pages for
    top=50, not the full 6) — but NOT when a client-side $filter would
    make 'first `top` raw rows' the wrong set; there the planner still
    reads everything and filter→top apply client-side."""
    template, count_url, _, recs = range_pages
    if not rest.HAS_PYTHON_DATASOURCE:
        pytest.skip("Python DataSource API unavailable")
    # the planner prunes to ceil(50/20)=3 page partitions under the cap
    # (the client-side limit() then collapses the RDD view, so assert on
    # the reader's own planning)
    reader = rest.ODataReader(
        {"skip_url_template": template, "page_size": "20",
         "count_url": count_url, "top_cap": "50"},
    )
    assert len(reader.partitions()) == 3
    capped = rest.read_odata(
        spark, template, SCHEMA,
        skip_url_template=template, page_size=20, count_url=count_url, top=50,
    )
    assert sorted(r["id"] for r in capped.collect()) == sorted(
        r["id"] for r in recs[:50]
    )
    # filter + top: rows 100..119 match; a capped plan would return none
    filtered = rest.read_odata(
        spark, template, SCHEMA,
        skip_url_template=template, page_size=20, count_url=count_url,
        top=10, filter_expr="errorCode ge 100",
    )
    rows = filtered.collect()
    assert len(rows) == 10 and all(r["errorCode"] >= 100 for r in rows)


def test_shared_throttle_fence_across_partitions(tmp_path):
    """r12: one partition's 429 Retry-After must pause SIBLING partitions
    (Graph throttles per app), and the per-fetch retry budget stays
    bounded.  Modeled with two simulated partitions sharing a
    throttle_dir: A's 429 raises the fence; B — whose server would
    answer instantly — first waits out A's hint."""
    tdir = str(tmp_path / "throttle")
    sleeps_a, sleeps_b = [], []
    calls = {"a": 0, "b": 0}

    def fetcher_a(url):
        calls["a"] += 1
        if calls["a"] == 1:
            raise rest.ThrottledError(url, retry_after=5.0)
        return '{"value": []}'

    def fetcher_b(url):
        calls["b"] += 1
        return '{"value": []}'

    policy = rest.RetryPolicy(max_retries=3, sleep_s=30.0)
    body = rest.fetch_with_shared_throttle(
        "u1", fetcher_a, policy, throttle_dir=tdir, sleeper=sleeps_a.append
    )
    assert body == '{"value": []}' and calls["a"] == 2
    # A honored the server hint (5 s), not the 30 s policy interval
    assert sleeps_a and sleeps_a[0] == 5.0
    # B starts fresh — but the shared fence makes it wait ~the remaining
    # Retry-After BEFORE its first fetch
    rest.fetch_with_shared_throttle(
        "u2", fetcher_b, policy, throttle_dir=tdir, sleeper=sleeps_b.append
    )
    assert calls["b"] == 1
    assert len(sleeps_b) == 1 and 0 < sleeps_b[0] <= 5.0

    # total-retry budget respected: an always-429 fetcher fails after
    # max_retries+1 attempts, never loops on the fence
    calls["c"] = 0

    def fetcher_c(url):
        calls["c"] += 1
        raise rest.ThrottledError(url, retry_after=1.0)

    with pytest.raises(rest.ThrottledError):
        rest.fetch_with_shared_throttle(
            "u3", fetcher_c, policy, throttle_dir=tdir, sleeper=lambda s: None
        )
    assert calls["c"] == policy.max_retries + 1


def test_throttle_fence_without_hint_uses_policy_interval(tmp_path):
    """A 429 with no Retry-After raises no fence (nothing to share) and
    falls back to the policy's own interval."""
    tdir = str(tmp_path / "throttle2")
    sleeps = []
    n = {"v": 0}

    def fetcher(url):
        n["v"] += 1
        if n["v"] == 1:
            raise rest.ThrottledError(url)
        return "ok"

    policy = rest.RetryPolicy(max_retries=2, sleep_s=7.0)
    assert (
        rest.fetch_with_shared_throttle(
            "u", fetcher, policy, throttle_dir=tdir, sleeper=sleeps.append
        )
        == "ok"
    )
    assert sleeps == [7.0]
    import os

    assert not os.path.exists(os.path.join(tdir, "retry_after_fence"))


def test_fence_object_store_scheme_via_hadoop_fs(spark, tmp_path):
    """r13 (r12 VERDICT item 4): an object-store throttle_dir (an
    s3a-style bucket URI, mocked with Hadoop's ViewFileSystem fallback
    mount onto a local dir) is fenced through the Hadoop FS API wherever
    a JVM gateway exists — raise, read-back, and sibling wait all
    propagate; the POSIX view of the same backing file agrees (proving
    it went through the FS layer, not open())."""
    import os

    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.bucket.linkFallback", f"file://{tmp_path}"
    )
    tdir = "viewfs://bucket/fence"
    assert rest._fence_scheme(tdir) == "remote"
    assert rest._fence_read(tdir) is None  # no fence yet, no crash

    rest._fence_raise(tdir, 30.0, now=lambda: 1000.0)
    assert rest._fence_read(tdir) == 1030.0
    # the backing local file exists where the mocked scheme maps it
    assert os.path.exists(f"{tmp_path}/fence/retry_after_fence")
    assert float(open(f"{tmp_path}/fence/retry_after_fence").read()) == 1030.0

    # a sibling honoring the fence sleeps exactly the remaining window
    slept = []
    rest._fence_wait(tdir, sleeper=slept.append, now=lambda: 1010.0)
    assert slept == [20.0]
    # a later/equal hint never lowers the fence (read-max-write)
    rest._fence_raise(tdir, 5.0, now=lambda: 1000.0)
    assert rest._fence_read(tdir) == 1030.0


def test_fence_object_store_degrades_loudly_without_gateway(monkeypatch):
    """r13: in a process with NO JVM gateway (executor Python worker),
    an object-store fence degrades to per-partition retries WITH an
    explicit RuntimeWarning (once per dir) — pages are never lost and
    the degradation is never silent."""
    import warnings

    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    rest._FENCE_DEGRADED_WARNED.clear()
    tdir = "mocks3://bucket/some/fence"

    calls = []
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = rest.fetch_with_shared_throttle(
            "u1",
            fetcher=lambda u: (calls.append(u), "body")[1],
            throttle_dir=tdir,
            sleeper=lambda s: None,
        )
    assert out == "body" and calls == ["u1"]  # fetch succeeded, no page lost
    msgs = [str(w.message) for w in caught if issubclass(w.category, RuntimeWarning)]
    assert msgs and all("per-partition retries" in m for m in msgs)

    # warn-once per dir per process: the second fetch stays quiet
    with warnings.catch_warnings(record=True) as again:
        warnings.simplefilter("always")
        rest.fetch_with_shared_throttle(
            "u2", fetcher=lambda u: "body", throttle_dir=tdir, sleeper=lambda s: None
        )
    assert not [w for w in again if issubclass(w.category, RuntimeWarning)]

    # a 429 in this degraded mode still retries per-partition (behavior
    # identical to the fence-less r11 path) and raises after the budget
    rest._FENCE_DEGRADED_WARNED.clear()
    attempts = []

    def fetcher_429(u):
        attempts.append(u)
        raise rest.ThrottledError(u, retry_after=7.0)

    sleeps = []
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        try:
            rest.fetch_with_shared_throttle(
                "u3",
                fetcher_429,
                rest.RetryPolicy(max_retries=2, sleep_s=1.0),
                throttle_dir=tdir,
                sleeper=sleeps.append,
            )
            raise AssertionError("expected ThrottledError")
        except rest.ThrottledError:
            pass
    assert len(attempts) == 3  # max_retries + 1, the per-partition budget
    assert sleeps == [7.0, 7.0]  # Retry-After still honored locally


def test_fence_snapshot_rides_partitions_from_planner(spark, tmp_path):
    """r13: the range planner snapshots the fence at planning time into
    every partition (fence_until), and the executor read path sleeps it
    out before the first fetch — the channel that carries an
    object-store fence into gateway-less workers.  Verified end-to-end
    on the local scheme: raise a fence, plan + read, and assert the
    total wall clock absorbed the fence window."""
    import json as _json
    import time as _time

    recs = [{"id": f"r{i:03d}"} for i in range(40)]

    def page(skip, top):
        return _json.dumps({"value": recs[skip : skip + top]})

    pages = tmp_path / "pages"
    pages.mkdir()
    for skip in range(0, 40, 20):
        (pages / f"p{skip}.json").write_text(page(skip, 20))
    count_file = tmp_path / "count"
    count_file.write_text("40")
    template = str(pages / "p{skip}.json") + "?$skip={skip}&$top={top}"

    tdir = str(tmp_path / "throttle")
    rest._fence_raise(tdir, 2.0)  # ~2 s fence from "now"

    schema = "id string"
    from pyspark.sql import types as T

    t0 = _time.monotonic()
    df = rest.read_odata(
        spark,
        str(pages / "p0.json"),
        T.StructType([T.StructField("id", T.StringType())]),
        skip_url_template=template,
        page_size=20,
        count_url=str(count_file),
        throttle_dir=tdir,
    )
    n = df.count()
    wall = _time.monotonic() - t0
    assert n == 40
    assert wall >= 1.0, (
        f"read finished in {wall:.2f}s — partitions did not honor the "
        "planner's fence snapshot"
    )


def test_fence_raise_never_leaves_fenceless_window(spark, tmp_path, monkeypatch):
    """r14 (ADVICE): the r13 object-store commit was delete-then-rename —
    a crash (or rename failure) between the two left NO fence at all,
    and the delete could remove a racer's LONGER fence.  Now the rename
    runs FIRST; on a store that refuses rename-over, the fallback is a
    re-read (a standing >= fence is kept) then an overwrite-create — at
    no point is the fence deleted without a replacement committed."""
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.norename.linkFallback", f"file://{tmp_path}"
    )
    tdir = "viewfs://norename/fence"

    real = rest._hadoop_fence

    class _NoRenameOverFS:
        """Hadoop-FS proxy that models S3-style semantics: rename fails
        whenever the destination exists (no rename-over)."""

        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            if self._fs.exists(dst):
                return False
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def patched(throttle_dir):
        got = real(throttle_dir)
        if got is None:
            return None
        fs, hp, p = got
        return _NoRenameOverFS(fs), hp, p

    monkeypatch.setattr(rest, "_hadoop_fence", patched)

    # first raise: dest absent, the rename commits
    rest._fence_raise(tdir, 30.0, now=lambda: 1000.0)
    assert rest._fence_read(tdir) == 1030.0
    # extend: rename-over refused -> fallback overwrite-create commits
    rest._fence_raise(tdir, 90.0, now=lambda: 1000.0)
    assert rest._fence_read(tdir) == 1090.0
    # a shorter hint never lowers the standing fence (read-max discipline
    # both at the head check and inside the fallback re-read)
    rest._fence_raise(tdir, 5.0, now=lambda: 1000.0)
    assert rest._fence_read(tdir) == 1090.0
    # no stray tmp files left behind by the fallback path
    import os

    leftovers = [
        n
        for n in os.listdir(f"{tmp_path}/fence")
        if n.startswith("retry_after_fence.")
    ]
    assert leftovers == []
