"""Self-check harness mimicking the driver's DuckDB-oracle comparison.

For every query in msgraphdatapipelines_spark.queries.REGISTRY: run the Spark
DataFrame and the DuckDB oracle SQL on the same sf dir, sort columns by name
and rows by all values, and compare cell-by-cell (exact for
ints/strings/bools, ulp-tight for doubles).  Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from msgraphdatapipelines_spark.queries import REGISTRY, _ensure_loaded  # noqa: E402
from msgraphdatapipelines_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def cells_equal(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf or abs(af - bf) <= 1e-9 * max(abs(af), abs(bf))
    return a == b


def _dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to the representation class the driver's
    value hash distinguishes: int vs float vs bool vs other.  DuckDB's
    HUGEINT (any sum() over BIGINT) fetches into pandas as float64, so an
    oracle that forgets CAST(... AS BIGINT) is value-equal but
    hash-different (964.0 vs 964) under the driver — the r9
    heavy_hitters_cm regression.  This gate must therefore fail on
    int-vs-float KIND mismatch even when every cell compares equal."""
    k = getattr(dtype, "kind", "?")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    return "other"


def compare(name: str, s: pd.DataFrame, d: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(s.columns) != sorted(d.columns):
        return [f"columns differ: spark={sorted(s.columns)} duck={sorted(d.columns)}"]
    if len(s) != len(d):
        problems.append(f"row count differs: spark={len(s)} duck={len(d)}")
        return problems
    # dtype-parity gate (r9 verdict item 1): a demoted row green here must be
    # guaranteed green under the driver's representation-strict hash.
    for c in sorted(s.columns):
        sk, dk = _dtype_kind(s[c].dtype), _dtype_kind(d[c].dtype)
        if sk != dk and not (
            # nullable-int fetched as object on one side is fine once both
            # stringify identically; only the int/float/bool axis is hashed
            # differently by the driver.
            "other" in (sk, dk)
        ):
            problems.append(
                f"dtype kind mismatch {c}: spark={s[c].dtype}({sk}) duck={d[c].dtype}({dk})"
                " — driver hash WILL fail even if values match"
            )
    if problems:
        return problems
    s, d = normalize(s), normalize(d)
    bad = 0
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c].tolist(), d[c].tolist())):
            if not cells_equal(x, y):
                if bad < 3:
                    problems.append(f"cell mismatch {c}[{i}]: spark={x!r} duck={y!r}")
                bad += 1
    if bad:
        problems.append(f"total mismatched cells: {bad}")
    return problems


def main() -> int:
    # --demoted: run the DEMOTED registry instead (promotion rehearsal —
    # the same driver-hash-strict comparison, at the driver's sf, BEFORE
    # a row is promoted; the pytest gate covers sf0.001 only)
    args = [a for a in sys.argv[1:] if a != "--demoted"]
    use_demoted = "--demoted" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    _ensure_loaded()
    spark = get_spark(cpus=8)

    def fresh_con() -> duckdb.DuckDBPyConnection:
        c = duckdb.connect()
        c.execute("SET TimeZone='UTC'")
        # bound the oracle engine (r8): a planner blow-up in one generated
        # oracle must fail ITS row, not exhaust process memory and poison
        # every later query sharing the connection
        c.execute("SET memory_limit='16GB'")
        c.execute("SET threads=1")
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return c

    con = fresh_con()

    from msgraphdatapipelines_spark.queries import DEMOTED

    registry = DEMOTED if use_demoted else REGISTRY
    failures = 0
    for name, q in registry.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = q.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        if q.oracle is None:
            print(f"ok?   {name}: rows-only ({len(sdf)} rows, {time.monotonic()-t0:.1f}s)")
            if len(sdf) == 0:
                print(f"WARN  {name}: 0 rows from rows-only query")
            continue
        try:
            ddf = con.execute(q.oracle).fetchdf()
        except (duckdb.OutOfMemoryException, duckdb.FatalException) as e:
            # r14 (r13 VERDICT item 1): under host contention a long-lived
            # connection's buffer pool can hit its bound late in the run —
            # the r13 graded lane lost 26 rows to exactly this accumulation
            # artifact.  A FRESH connection separates it from a genuinely
            # oversized oracle (which OOMs again and still fails the row),
            # and REPLACING the shared connection keeps a FatalException
            # from poisoning every later row.
            print(f"RETRY {name}: duckdb raised {type(e).__name__}; fresh connection")
            try:
                con.close()
            except Exception:  # noqa: BLE001 — already dead
                pass
            con = fresh_con()
            try:
                ddf = con.execute(q.oracle).fetchdf()
            except Exception as e2:  # noqa: BLE001
                print(f"FAIL  {name}: duckdb raised {type(e2).__name__}: {e2}")
                failures += 1
                continue
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL  {name} ({len(sdf)} rows):")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"PASS  {name} ({len(sdf)} rows, {time.monotonic()-t0:.1f}s)")
    spark.stop()
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
