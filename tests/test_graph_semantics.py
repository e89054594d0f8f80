"""Golden-value tests for the reference's nested-data semantics (T1-T4,
P5/T6/T7) on Graph-shaped fixtures (FIXTURES.md §B).

Goldens encode the PowerShell behaviors cited in SURVEY.md §2.3:
- null struct ⇒ lifted columns null (`Invoke…ps1:214-221`)
- null/empty usersLoggedOn ⇒ argmax columns null (`Invoke…ps1:223-229`)
- resources member-projection takes the first element (`Export…ps1:234-239`)
- conform drops extras / nulls missing / casts declared (`Invoke…ps1:255-307`)
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from msgraphdatapipelines_spark import schemas
from msgraphdatapipelines_spark.operators import flatten, project


def _device(spark, rows):
    return spark.createDataFrame(rows, schemas.MANAGED_DEVICE_RAW)


def test_flatten_struct_null_propagates(spark):
    rows = [
        {
            "id": "d1",
            "configurationManagerClientHealthState": {
                "state": "healthy",
                "errorCode": 0,
                "lastSyncDateTime": "2024-05-01T10:00:00Z",
            },
        },
        {"id": "d2", "configurationManagerClientHealthState": None},
    ]
    df = flatten.flatten_struct(
        _device(spark, rows),
        "configurationManagerClientHealthState",
        {
            "ccm_state": ("state", None),
            "ccm_error": ("errorCode", "long"),
            "ccm_sync": ("lastSyncDateTime", "timestamp"),
        },
    )
    got = {r["id"]: r for r in df.select("id", "ccm_state", "ccm_error", "ccm_sync").collect()}
    assert got["d1"]["ccm_state"] == "healthy"
    assert got["d1"]["ccm_error"] == 0
    assert got["d1"]["ccm_sync"] is not None
    assert got["d2"]["ccm_state"] is None
    assert got["d2"]["ccm_error"] is None
    assert got["d2"]["ccm_sync"] is None


def test_argmax_latest_logon_and_null_empty(spark):
    rows = [
        {
            "id": "d1",
            "usersLoggedOn": [
                {"userId": "u-old", "lastLogOnDateTime": "2024-01-01T00:00:00Z"},
                {"userId": "u-new", "lastLogOnDateTime": "2024-03-01T00:00:00Z"},
                {"userId": "u-mid", "lastLogOnDateTime": "2024-02-01T00:00:00Z"},
            ],
        },
        {"id": "d2", "usersLoggedOn": []},
        {"id": "d3", "usersLoggedOn": None},
    ]
    df = flatten.argmax_in_array(
        _device(spark, rows),
        "usersLoggedOn",
        "lastLogOnDateTime",
        {
            "userLoggedOnUserId": ("userId", None),
            "userLoggedOnLastLogOnDateTime": ("lastLogOnDateTime", "timestamp"),
        },
    )
    assert "usersLoggedOn" not in df.columns  # dropped like Select-Object -ExcludeProperty
    got = {r["id"]: r for r in df.collect()}
    assert got["d1"]["userLoggedOnUserId"] == "u-new"
    assert got["d2"]["userLoggedOnUserId"] is None
    assert got["d3"]["userLoggedOnUserId"] is None


def test_audit_actor_flatten_and_resources_first(spark):
    rows = [
        {
            "id": "a1",
            "actor": {"applicationDisplayName": "app", "userPrincipalName": "user@x"},
            "resources": [{"displayName": "pc-1"}, {"displayName": "pc-2"}],
        },
        {"id": "a2", "actor": None, "resources": None},
    ]
    df = spark.createDataFrame(rows, schemas.AUDIT_EVENT_RAW)
    df = flatten.flatten_struct(
        df,
        "actor",
        {"applicationDisplayName": ("applicationDisplayName", None), "userPrincipalName": ("userPrincipalName", None)},
    )
    df = flatten.array_first_field(df, "resources", "displayName", "resourceDisplayName")
    got = {r["id"]: r for r in df.collect()}
    assert got["a1"]["applicationDisplayName"] == "app"
    assert got["a1"]["resourceDisplayName"] == "pc-1"  # first element decision
    assert got["a2"]["applicationDisplayName"] is None
    assert got["a2"]["resourceDisplayName"] is None


def test_full_managed_device_pipeline_conforms_to_target(spark):
    rows = [
        {
            "id": "d1",
            "deviceName": "host-1",
            "enrolledDateTime": "2024-01-15T08:30:00Z",
            "azureADRegistered": True,
            "configurationManagerClientHealthState": {
                "state": "healthy",
                "errorCode": 7,
                "lastSyncDateTime": "2024-05-01T10:00:00Z",
            },
            "usersLoggedOn": [{"userId": "u1", "lastLogOnDateTime": "2024-04-01T00:00:00Z"}],
        }
    ]
    df = _device(spark, rows)
    df = flatten.argmax_in_array(
        df,
        "usersLoggedOn",
        "lastLogOnDateTime",
        {
            "userLoggedOnUserId": ("userId", None),
            "userLoggedOnLastLogOnDateTime": ("lastLogOnDateTime", "timestamp"),
        },
    )
    df = flatten.flatten_struct(
        df,
        "configurationManagerClientHealthState",
        {
            "configurationManagerClientErrorCode": ("errorCode", "long"),
            "configurationManagerClientLastSyncDateTime": ("lastSyncDateTime", "timestamp"),
        },
    ).withColumn(
        "configurationManagerClientHealthState",
        F.col("configurationManagerClientHealthState.state"),
    )
    out = project.conform(df, schemas.MANAGED_DEVICE_TARGET)
    assert [f.name for f in out.schema.fields] == [
        f.name for f in schemas.MANAGED_DEVICE_TARGET.fields
    ]
    row = out.collect()[0]
    assert row["configurationManagerClientHealthState"] == "healthy"
    assert row["configurationManagerClientErrorCode"] == 7
    assert row["userLoggedOnUserId"] == "u1"
    assert row["enrolledDateTime"].year == 2024
    assert row["azureADRegistered"] is True
    # declared-but-unsourced column arrives NULL (schema-superset tolerance)
    assert row["skuFamily"] is None


def test_conform_strict_raises_on_missing(spark):
    import pytest as _pytest

    df = spark.createDataFrame([Row(a=1)])
    from pyspark.sql import types as T

    target = T.StructType([T.StructField("missing_col", T.StringType())])
    with _pytest.raises(ValueError, match="missing_col"):
        project.conform(df, target, strict=True)


def test_triangle_stats_crafted_graph(spark):
    """late r10: known census on a crafted graph — K4 (4 triangles) plus
    a pendant vertex and noisy input (dupes, self-loop, both
    orientations) that canonicalization must absorb."""
    from msgraphdatapipelines_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame(
        [
            # K4 on 1-4, some edges duplicated / reversed
            (1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (3, 2), (2, 4), (3, 4),
            # pendant + self loop noise
            (4, 5), (5, 5),
        ],
        "src long, dst long",
    )
    row = triangle_stats(edges).collect()[0]
    assert row["n_vertices"] == 5
    assert row["n_edges"] == 7  # K4's 6 + pendant
    assert row["n_triangles"] == 4  # K4 has C(4,3)
    # wedges: degrees 3,3,3,4,1 -> 3+3+3+6+0 = 15
    assert row["n_wedges"] == 15
    assert row["clustering_coeff"] == round(12 / 15, 6)


def test_cooccurrence_edges_collapse_duplicate_memberships(spark):
    """late r10: every group contributes C(distinct items, 2) edges, and
    duplicate memberships collapse first."""
    from msgraphdatapipelines_spark.operators.graph import cooccurrence_edges

    rows = (
        [("small", i) for i in (1, 2, 3)]
        + [("small", 2)]  # duplicate membership
        + [("hub", i) for i in range(10, 20)]
    )
    df = spark.createDataFrame(rows, "g string, i long")
    full = {tuple(r) for r in cooccurrence_edges(df, "g", "i").collect()}
    assert len(full) == 3 + 45  # C(3,2) + C(10,2)
    assert {(1, 2), (1, 3), (2, 3)} <= full
