"""Precompute the DuckDB results the ``catalog`` workload is checked against.

For every query of the ``catalog`` workload, run the query's
registered oracle SQL in DuckDB over the benchmark corpus and store
the order-insensitive hash of its result (``tools.canon.table_hash``)
and its sorted column names in ``oracle.json``, together with the
corpus digest it belongs to. The benchmark never runs DuckDB itself.

    python3 perfbench/oracle.py

Run it from the repository root.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import queries  # noqa: E402
from tools.canon import table_hash  # noqa: E402

# The registered oracle of ``bloom_prefilter_audit`` joins ``bloom`` on
# an expression computed inside the ON clause, which DuckDB can only
# run as a nested-loop join. The rewrite computes the probe positions
# first and equi-joins on (d, pos); the result is the same.
_HITS_RE = re.compile(
    r"hits AS \(\s*SELECT p\.k, count\(\*\) AS nhit\s*FROM probe p\s*"
    r"CROSS JOIN seeds\s*JOIN bloom b\s*ON b\.d = seeds\.d\s*"
    r"AND b\.pos = (?P<pos>\(\(seeds\.a \* CAST\(p\.k AS HUGEINT\) \+ seeds\.bb\)\s*"
    r"% \d+\) % \d+)\s*GROUP BY p\.k\s*\)",
)


def oracle_sql(name: str, sql: str) -> str:
    if name != "bloom_prefilter_audit":
        return sql
    rewritten, n = _HITS_RE.subn(
        lambda m: (
            "probe_pos AS (\n"
            f"        SELECT p.k, seeds.d, {m.group('pos')} AS pos\n"
            "        FROM probe p CROSS JOIN seeds\n"
            "    ),\n"
            "    hits AS (\n"
            "        SELECT pp.k, count(*) AS nhit\n"
            "        FROM probe_pos pp JOIN bloom b ON b.d = pp.d AND b.pos = pp.pos\n"
            "        GROUP BY pp.k\n"
            "    )"
        ),
        sql,
    )
    if n != 1:
        raise SystemExit("bloom_prefilter_audit oracle changed; update the rewrite in oracle.py")
    return rewritten


def main() -> int:
    import duckdb

    from bigdata_riveranalysis_spark.plans import REGISTRY

    corpus_dir = os.path.join(HERE, "_work", "corpus")
    digest, _ = corpus.ensure_corpus(corpus_dir)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in corpus.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    out = {}
    for name in queries.CATALOG:
        q = REGISTRY[name]
        if q.oracle is None:
            raise SystemExit(f"{name} has no oracle SQL")
        t0 = time.perf_counter()
        res = con.execute(oracle_sql(name, q.oracle))
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        h, n = table_hash(rows, cols)
        out[name] = {"hash": h, "rows": n, "cols": sorted(cols)}
        print(f"{name}: {len(rows)} rows, {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    doc = {"corpus_digest": digest, "queries": out}
    path = os.path.join(HERE, "oracle.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(path, file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
