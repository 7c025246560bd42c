"""Driver-strict differential harness — the pandas-path twin of diffcheck.

diffcheck.py compares Spark ``collect()`` rows against DuckDB
``fetchall()`` rows: both yield exact Python objects (DuckDB HUGEINT
-> Python int, Spark DECIMAL(38,0) -> decimal.Decimal), so any
canonicalizer sees identical strings. The external driver's artifacts
(rows_match=True, schema_match=True, hash_match=False — r7/r8 on
exactly the three queries whose FINAL output column was HUGEINT)
imply it compares through DATAFRAME conversion instead, where the
engines' exact integers degrade asymmetrically:

  - DuckDB ``.df()`` converts HUGEINT to float64 — LOSSY above 2^53
    (9007199254740993 -> ...992.0) and a dtype-family change even
    below it (int 5 vs float 5.0).
  - Spark ``.toPandas()`` converts DECIMAL(38,0) to object-dtype
    ``decimal.Decimal`` — exact, but str()s differently from a float.

This harness reproduces that blind spot locally: it fetches BOTH
sides as pandas DataFrames and canonicalizes WITHOUT the
integral-float collapse diffcheck applies, so a float64 5.0 does NOT
equal an int64 5. A query green here is green under ANY sane
canonicalizer, because its final columns carry the SAME dtype family
on both sides (the repo rule this tool enforces; SURVEY §5):

  int64/int32  <->  BIGINT/INTEGER      (never HUGEINT)
  float64      <->  DOUBLE
  str          <->  VARCHAR
  bool         <->  BOOLEAN
  (Spark DECIMAL and DuckDB HUGEINT are fine INTERNALLY — wide exact
   arithmetic is the whole exactness policy — but must be cast to
   BIGINT/DOUBLE/VARCHAR before the final SELECT.)

Usage:
    python tools/strictcheck.py [sf_dir] [query ...]
    python tools/strictcheck.py --hashes HASHES_r9.json [sf_dir]
    python tools/strictcheck.py --vanilla [sf_dir]

--hashes also dumps {query: engine_hash} for the committed per-round
hash history (VERDICT r8 #7): a future driver red can then be
attributed to engine drift vs oracle drift by diffing hash files.

--vanilla runs every query on a PLAIN SparkSession (no engine
configs) — the external driver's shape. A query green under
get_spark but red here depends on an engine-session conf the driver
won't have (session timezone, AQE, broadcast threshold, nanosAsLong),
which is a latent driver red.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

import duckdb

from bigdata_riveranalysis_spark.session import get_spark
from bigdata_riveranalysis_spark.sources.tables import TABLES

# Canonicalization + dtype-family logic lives in the side-effect-free
# tools.canon so tests can share THE definitions without importing
# this CLI module's path/env mutations (review r9 second pass).
from tools.canon import canon_strict, dtype_family, family_mismatches  # noqa: E402


def frame_cells(df) -> tuple[list[str], list[tuple]]:
    """(columns, rows) from a pandas frame with pandas NA/NaT mapped
    to None and numpy scalars unboxed to Python scalars."""
    import pandas as pd

    cols = list(df.columns)
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append(
            tuple(None if pd.isna(v) and not isinstance(v, float) else v
                  for v in tup)
        )
    return cols, rows


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    from tools.canon import table_hash as _th

    return _th(rows, cols, strict=True)[0]


def main() -> int:
    argv = list(sys.argv[1:])
    hashes_path = None
    if "--hashes" in argv:
        i = argv.index("--hashes")
        hashes_path = argv[i + 1]
        del argv[i : i + 2]
    vanilla = "--vanilla" in argv
    if vanilla:
        argv.remove("--vanilla")
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.01"
    only = [a for a in argv if "/" not in a]

    import __spark_entry__ as entry_mod

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = [n for n in only if n not in qs]
    if unknown:
        print(f"FAIL: unknown query name(s) {unknown}")
        return 2
    if vanilla:
        from pyspark.sql import SparkSession

        n = os.environ.get("SPARK_GRAFT_CPUS", "32")
        spark = (
            SparkSession.builder.master(f"local[{n}]")
            .appName("strictcheck-vanilla")
            # RESOURCE conf mirrored from get_spark (a 1g-default heap
            # OOM would masquerade as conf-dependence — review r9);
            # every SEMANTIC conf (timezone, AQE, thresholds,
            # nanosAsLong) stays at Spark defaults, which is the point.
            .config("spark.driver.memory", "90g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark("strictcheck")
    con = duckdb.connect()
    for t in TABLES:
        # Directory tables (tools/remat_fixture.py) need a glob for
        # DuckDB; Spark-side load_table handles both forms already.
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures, hashes = [], {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        scols, srows = frame_cells(spdf)
        sh = table_hash(srows, scols)
        hashes[name] = sh
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows) [no oracle]")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        dcols, drows = frame_cells(ddf)
        dh = table_hash(drows, dcols)
        fams = family_mismatches(spdf, ddf)
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} "
                  f"duckdb={sorted(dcols)}")
            failures.append(name)
        elif fams:
            print(f"FAIL {name}: dtype-family mismatch — {fams}")
            failures.append(name)
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} "
                  f"duckdb={len(drows)}")
            failures.append(name)
        elif sh != dh:
            print(f"FAIL {name}: STRICT value hash mismatch "
                  f"({len(srows)} rows) "
                  f"[spark dtypes {dict(spdf.dtypes.astype(str))}] "
                  f"[duck dtypes {dict(ddf.dtypes.astype(str))}]")
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = {tuple(canon_strict(r[i]) for i in order) for r in srows}
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            dset = {tuple(canon_strict(r[i]) for i in dorder) for r in drows}
            for d in list(sset - dset)[:3]:
                print(f"   spark-only : {d}")
            for d in list(dset - sset)[:3]:
                print(f"   duckdb-only: {d}")
            failures.append(name)
        else:
            print(f"PASS {name}: {len(srows)} rows, hash {sh} "
                  f"({time.time()-t0:.1f}s)")

    if hashes_path:
        with open(hashes_path, "w") as f:
            json.dump(hashes, f, indent=1, sort_keys=True)
        print(f"wrote {len(hashes)} engine hashes to {hashes_path}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
