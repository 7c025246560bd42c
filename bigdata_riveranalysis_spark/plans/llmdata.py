"""LLM-training-data pipeline operators over documents + embeddings.

The charter's extension surface (BASELINE.json / SURVEY.md §2b last
row): deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard),
similarity search (brute-force + LSH-bucketed ANN), text analysis
(quality scoring, token counting, fingerprinting, lang-id heuristic),
and the multimodal binary-column pipeline.

Determinism contract: all hashing is md5-derived (identical in Spark
and DuckDB), all set arithmetic is integer-exact, so every operator
here has a bit-exact SQL oracle — including the MinHash signatures
themselves, not just the (corpus-dependent) duplicate pairs.

Scale design notes:
  * Pairwise work is always candidate-generated (shared shingle /
    shared LSH band / shared bucket) — never an open cross join —
    so the shuffle key is the shingle/band and the candidate set
    stays near-linear when true duplicates are sparse.
  * Hot shingles are the skew risk at 100 TB: the standard mitigation
    (drop shingles with document frequency above a cap before the
    pair join) is noted inline where it applies.
"""

from __future__ import annotations

import math as _math
import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdata_riveranalysis_spark.functions import exact as EX
from bigdata_riveranalysis_spark.functions import text as TX
from bigdata_riveranalysis_spark.functions import vectors as VX
from bigdata_riveranalysis_spark.functions.arrays import explode_nonempty
from bigdata_riveranalysis_spark.plans.registry import query, retired_query
from bigdata_riveranalysis_spark.sources.tables import (
    BATCH_CUTOFF_SQL,
    batch_cutoff,
    load_table,
    spread_small_scan,
    table_column_bytes,
    table_rowcount,
)

NUM_MINHASHES = 8
MINHASH_SHINGLE_N = 3  # word trigrams
#: J ≥ t with t expressed as the exact integer rational NUM/DEN.
#: Every regime — the distributed filter, the local fused tile test,
#: the oracle SQL, the minhash agree-count — derives from this ONE
#: pair, so editing the threshold cannot desync them (review finding
#: r8: the tile test previously hardcoded the t = 1/2 coefficient 3,
#: silently decoupled from this constant).
JACCARD_THRESHOLD_NUM = 1
JACCARD_THRESHOLD_DEN = 2
JACCARD_THRESHOLD = JACCARD_THRESHOLD_NUM / JACCARD_THRESHOLD_DEN
#: Fused tile-test coefficient: with t = p/q,
#:   J ≥ t ⟺ q·common ≥ p·(ssum − common) ⟺ (p+q)·common ≥ p·ssum.
_JACCARD_TILE_COEF = JACCARD_THRESHOLD_NUM + JACCARD_THRESHOLD_DEN
#: f32-exactness vocab cap for the fused tile test: every scaled
#: operand ((p+q)·common ≤ (p+q)·nv, p·size ≤ p·nv) must stay an
#: exact f32 integer, i.e. < 2^24; p+q > p so p+q binds. At the
#: default t = 1/2 this is the ADVICE-r7 2^24/3 = 5_592_405 bound
#: (boundary pinned in tests/test_r8_operators.py).
_JACCARD_VOCAB_CAP = (1 << 24) // _JACCARD_TILE_COEF
#: Minimum signature-agreement count for an LSH candidate to count as
#: a near-dup: ceil(N · t), the integer form of est_jaccard ≥ t — the
#: ONE threshold formulation both minhash dedup queries use (review
#: r8: dedup_minhash_lsh previously float-compared k/8 ≥ t while the
#: incremental twin used this integer form; identical outcomes for
#: every t because k/8 is dyadic-exact, but one formulation beats two).
_MINHASH_MIN_AGREE = _math.ceil(NUM_MINHASHES * JACCARD_THRESHOLD)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents table, split-spread only if the scan under-splits
    (conditional — see sources.tables.spread_small_scan; an
    unconditional repartition would shuffle the raw corpus at scale).
    The split decision prices from file metadata, not an RDD probe."""
    path = f"{sf_dir}/documents.parquet"
    return spread_small_scan(spark, load_table(spark, sf_dir, "documents"), path)


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings table, split-spread only if the scan under-splits."""
    path = f"{sf_dir}/embeddings.parquet"
    return spread_small_scan(spark, load_table(spark, sf_dir, "embeddings"), path)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text)     AS content_hash,
           min(doc_id)   AS canonical_id,
           count(*)      AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, min doc_id as canonical.

    Scale: shuffles 16-byte digests, not documents — group on
    md5(text), carry only doc_id. The canonical-id rule (min) makes
    the result deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")  # agg-only: shuffle provides parallelism
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def _band_rows(df: "DataFrame") -> "DataFrame":
    """Explode a (doc_id, sig-array) frame into LSH band-key rows —
    the ONE definition of the banding layout (4 bands × 2 rows),
    shared by the full-corpus and incremental LSH queries and kept in
    lockstep with _band_rows_sql (the two copies previously had to be
    edited in sync; review finding)."""
    return df.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col("sig")[2 * b].alias("h1"),
                        F.col("sig")[2 * b + 1].alias("h2"),
                    )
                    for b in range(NUM_MINHASHES // 2)
                ]
            )
        ).alias("bk"),
    )


def _minhash_signature_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + mh0..mh{N-1} MinHash signature over distinct word-trigram
    shingles. Docs with < 3 tokens have no shingles and are excluded.

    The whole signature is ONE nested higher-order expression: the
    shingle array is bound once per row (projection collapse would
    otherwise inline — and recompute — tokenize+shingle into each of
    the N signature columns).
    """
    # Agg-only pipeline: the groupBy shuffle provides parallelism and
    # the map side (explode + one md5/shingle) measured ~0.2 s even
    # single-threaded at bench scale — no split-spread Exchange.
    docs = load_table(spark, sf_dir, "documents")
    tok = TX.tokens("text")
    sh = docs.select("doc_id", tok.alias("t")).filter(
        F.size("t") >= MINHASH_SHINGLE_N
    ).select(
        "doc_id",
        explode_nonempty(TX.word_shingles(F.col("t"), MINHASH_SHINGLE_N)).alias("s"),
    )
    # explode → one md5 per shingle occurrence → 8 codegen'd min
    # aggregates of (a·h + b) mod P (Carter–Wegman family — see
    # functions.text.MINHASH_COEFFS). min over the occurrence
    # multiset equals min over the distinct-shingle set, so the
    # per-row list_distinct in the DuckDB oracle is only a compute
    # saving there, not a semantic difference. The whole pipeline —
    # generate, hash, partial agg — runs inside WholeStageCodegen; a
    # per-row higher-order transform() formulation evaluates the md5
    # lambda interpreted (HOFs never enter codegen) and measured
    # 5-10× slower until JIT warm-up, with multi-second first runs.
    # Scale: the map-side partial aggregation reduces each task to
    # one 8-long row per doc before the shuffle, so the exchange
    # carries n_docs × 8 longs — never shingles.
    h = TX.hash32(F.col("s"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * h + F.lit(b)) % F.lit(TX.MINHASH_PRIME)).alias(f"mh{seed}")
            for seed, (a, b) in enumerate(TX.MINHASH_COEFFS)
        ]
    )


def _minhash_signature_cte() -> str:
    """DuckDB CTE computing the identical signature table."""
    toks = TX.TOKENS_SQL.format(c="text")
    sh = f"list_distinct({TX.word_shingles_sql('__TOK__', MINHASH_SHINGLE_N)})".replace("__TOK__", "t")
    mh_cols = ",\n           ".join(
        f"{TX.minhash_value_sql('hb', seed)} AS mh{seed}" for seed in range(NUM_MINHASHES)
    )
    return f"""
    toks AS (
        SELECT doc_id, {toks} AS t FROM documents
    ),
    shingled AS (
        SELECT doc_id, {sh} AS sh FROM toks WHERE len(t) >= {MINHASH_SHINGLE_N}
    ),
    based AS (
        SELECT doc_id, {TX.minhash_base_sql('sh')} AS hb FROM shingled
    ),
    sig AS (
        SELECT doc_id,
           {mh_cols}
        FROM based
    )"""


@retired_query(
    "minhash_signatures",
    oracle=f"""
    WITH {_minhash_signature_cte()}
    SELECT * FROM sig
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hashes, salted-md5 family, word trigrams).

    Registered separately from the pair query so the oracle validates
    every signature bit-for-bit even when the corpus has few
    near-duplicates.

    RETIRED r9 (registry at the 150-slot cadence cap; VERDICT r8 #5):
    the verified surface is subsumed by dedup_minhash_lsh, whose
    oracle joins these same signatures per-hash on both sides; still
    oracle-verified every pytest run (tests/test_retired_queries.py).
    """
    return _minhash_signature_df(spark, sf_dir)


def _minhash_sig_arr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig) — the 8 minhashes folded into one array column,
    the staged signature table every MinHash consumer reads.

    Memoized per (application, corpus) via _index_stage: the
    full-corpus LSH and the incremental twin previously each ran the
    tokenize→shingle→hash pass (each with its own cache + count()
    materialization dance). The signature table IS the MinHash index
    — at 100 TB it's the persisted artifact the daily job maintains —
    so it is derived once and read everywhere. localCheckpoint also
    subsumes the old block-lock workaround: a self-join over a
    checkpointed frame reads blocks on both sides, it never races to
    fill a shared cache. The table is tiny: (doc_id, 8 longs) per doc.
    """
    return _index_stage(
        spark,
        sf_dir,
        "minhash_sig",
        lambda: _minhash_signature_df(spark, sf_dir).select(
            "doc_id",
            F.array(*[F.col(f"mh{i}") for i in range(NUM_MINHASHES)]).alias("sig"),
        ),
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_minhash_signature_cte()},
    bands AS (
        SELECT doc_id, 0 AS band, mh0 AS h1, mh1 AS h2 FROM sig
        UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
        UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
        UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT doc_a, doc_b,
               ({" + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(NUM_MINHASHES))})
                   AS n_agree
        FROM cand
        JOIN sig sa ON sa.doc_id = doc_a
        JOIN sig sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, round(n_agree / {NUM_MINHASHES}.0, 4) AS est_jaccard
    FROM scored WHERE n_agree >= {_MINHASH_MIN_AGREE}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash-LSH banding (4 bands × 2 rows).

    Pipeline: signature → band keys → bucket self-join (the LSH
    candidate generation) → signature-agreement score → threshold.

    Scale: the self-join shuffles on (band, h1, h2) — true duplicates
    hash to the same bucket, unrelated docs almost never do, so
    candidate volume tracks the duplicate count, not n². Degenerate
    hot buckets (boilerplate corpora) get the document-frequency cap
    treatment before the join.

    The pair table is memoized per (application, corpus) — it is the
    shared input of dedup_cluster_components, minhash_estimate_error
    and (through components) dedup_keep_best / dedup_pipeline_summary,
    each of which previously re-ran signature + banding + self-join
    wholesale (the same per-consumer waste VERDICT r12 #2 named on
    the ANN trio). Candidate pairs ≪ corpus, so the checkpoint is
    small by the LSH invariant itself.
    """
    return _index_stage(
        spark,
        sf_dir,
        "lsh_pairs",
        lambda: _lsh_pairs_build(spark, sf_dir),
    )


def _lsh_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = _band_rows(_minhash_sig_arr(spark, sf_dir))
    a, b = bands.alias("a"), bands.alias("b")
    # Score on the joined row (both signatures are already there),
    # THEN dedup the surviving (doc_a, doc_b) pairs with a scalar-only
    # groupBy. Deduping before scoring looks cheaper but forces the
    # two signature arrays through the dedup as First(array) payloads
    # — a SortAggregate (hash agg buffers can't hold arrays) over
    # rows ~5× wider than the scores. Scoring first keeps the dedup a
    # 3-scalar-column HashAggregate; a pair that matches in k bands
    # yields k identical score rows, so first() is deterministic.
    matches = F.size(
        F.filter(F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y), lambda v: v)
    )
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            matches.alias("n_agree"),
        )
        # integer agree-count threshold — the same _MINHASH_MIN_AGREE
        # formulation the incremental twin uses (no float compare).
        .filter(F.col("n_agree") >= _MINHASH_MIN_AGREE)
    )
    return cand.groupBy("doc_a", "doc_b").agg(
        F.round(F.first("n_agree") / F.lit(float(NUM_MINHASHES)), 4).alias(
            "est_jaccard"
        )
    )




def _band_rows_sql(src: str) -> str:
    """UNION ALL band-key rows (band, h1, h2) for a signature CTE."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh{2 * b} AS h1, mh{2 * b + 1} AS h2 FROM {src}"
        for b in range(NUM_MINHASHES // 2)
    )


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_minhash_signature_cte()},
    mx AS (SELECT max(doc_id) AS m FROM documents),
    bsig AS (SELECT s.* FROM sig s, mx WHERE s.doc_id >= {BATCH_CUTOFF_SQL}),
    csig AS (SELECT s.* FROM sig s, mx WHERE s.doc_id < {BATCH_CUTOFF_SQL}),
    bbands AS ({_band_rows_sql("bsig")}),
    cbands AS ({_band_rows_sql("csig")}),
    cand AS (
        SELECT DISTINCT a.doc_id AS bid, c.doc_id AS cid
        FROM bbands a JOIN cbands c
          ON a.band = c.band AND a.h1 = c.h1 AND a.h2 = c.h2
    ),
    scored AS (
        SELECT bid, cid,
               ({" + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(NUM_MINHASHES))}) AS n_agree
        FROM cand
        JOIN sig sa ON sa.doc_id = bid
        JOIN sig sb ON sb.doc_id = cid
    ),
    best AS (
        SELECT bid, cid, n_agree,
               row_number() OVER (PARTITION BY bid
                                  ORDER BY n_agree DESC, cid) AS rn
        FROM scored WHERE n_agree >= {_MINHASH_MIN_AGREE}
    )
    SELECT s.doc_id,
           b.cid AS match_id,
           coalesce(b.n_agree, 0) AS n_agree,
           CASE WHEN b.cid IS NOT NULL THEN 1 ELSE 0 END AS is_near_dup
    FROM bsig s LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON s.doc_id = b.bid
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: today's ingest batch LSH-checked against
    the historical corpus — dedup_incremental_exact's shape lifted
    from exact hashes to MinHash banding, i.e. the continuous-crawl
    near-dedup flow production pipelines actually run. One row per
    batch document (with a signature): its best corpus match at
    agreement ≥ ceil(N·t) and an is_near_dup flag; ties break to the
    smallest corpus doc_id, and agreement counts stay integers end to
    end (no float compare on either engine).

    Scale: the batch's band keys are the SMALL side — broadcast into
    the corpus band table, so the corpus is scanned once map-side and
    nothing shuffles on it (at 100 TB the corpus signatures are a
    persisted index maintained by the daily job, exactly like the
    content-hash index in dedup_incremental_exact; here both sides
    derive from one cached signature pass). Candidate volume follows
    the LSH invariant — band-key collisions, not batch × corpus.
    """
    cutoff = batch_cutoff(spark, sf_dir)
    # The staged signature table (memoized + checkpointed) feeds both
    # the batch and corpus branches — one hashing pass per corpus,
    # shared with the full-corpus LSH.
    sig_arr = _minhash_sig_arr(spark, sf_dir)

    bsig = sig_arr.filter(F.col("doc_id") >= cutoff)
    csig = sig_arr.filter(F.col("doc_id") < cutoff)
    a, c = _band_rows(bsig).alias("a"), _band_rows(csig).alias("c")
    n_agree = F.size(
        F.filter(F.zip_with(F.col("a.sig"), F.col("c.sig"), lambda x, y: x == y), lambda v: v)
    )
    scored = (
        F.broadcast(a)
        .join(c, F.col("a.bk") == F.col("c.bk"))
        .select(
            F.col("a.doc_id").alias("bid"),
            F.col("c.doc_id").alias("cid"),
            n_agree.alias("n_agree"),
        )
        .filter(F.col("n_agree") >= _MINHASH_MIN_AGREE)
    )
    # A pair matching in k bands yields k identical score rows, and
    # duplicates can't change an argmax — so pair-dedup and per-batch-
    # doc best-match fuse into ONE aggregation: min over the integer
    # struct (−n_agree, cid) is the oracle's (n_agree DESC, cid)
    # row_number tie-break, with map-side partial aggregation and one
    # Exchange instead of the groupBy + window pair.
    best = (
        scored.groupBy("bid")
        .agg(
            F.min(
                F.struct((-F.col("n_agree")).alias("na"), F.col("cid").alias("cid"))
            ).alias("b")
        )
        .select("bid", F.col("b.cid").alias("cid"), (-F.col("b.na")).alias("n_agree"))
    )
    return (
        bsig.select("doc_id")
        .join(F.broadcast(best.withColumnRenamed("bid", "doc_id")), ["doc_id"], "left")
        .select(
            "doc_id",
            F.col("cid").alias("match_id"),
            F.coalesce("n_agree", F.lit(0)).alias("n_agree"),
            F.when(F.col("cid").isNotNull(), 1).otherwise(0).alias("is_near_dup"),
        )
    )


#: Pair-graph size cap for the driver union-find regime of
#: dedup_cluster_components: 2M edges × ~(two ids + overhead) ≈ low
#: hundreds of MB on the driver — explicit and bounded, like
#: JACCARD_LOCAL_*. Above it the distributed label-propagation loop runs.
COMPONENTS_LOCAL_MAX_EDGES = 2_000_000


def _lsh_pairs_oracle() -> str:
    """The registered dedup_minhash_lsh oracle, as a subquery — the
    components oracle builds on the SAME pair semantics, textually."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    return REGISTRY["dedup_minhash_lsh"].oracle


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({_lsh_pairs_oracle()}) p),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
        SELECT node, node AS lbl FROM nodes
        UNION
        SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY node)
    SELECT doc_id, canonical_id,
           count(*) OVER (PARTITION BY canonical_id) AS component_size
    FROM comp
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the final
    stage of fuzzy dedup: pairwise matches become CLUSTERS, each doc
    labeled with its component's canonical (minimum) doc_id, so
    keep-one-per-cluster is a trivial filter.

    Regimes (both produce the identical labeling):
      * **Local** (pair count ≤ COMPONENTS_LOCAL_MAX_EDGES): the pair
        graph — NOT the corpus — is collected and union-find runs on
        the driver. Near-dup pairs are sparse relative to documents
        (only actual duplicates appear), so even a very large corpus
        usually yields a graph of thousands of edges; the gate bounds
        driver memory explicitly, mirroring JACCARD_LOCAL_*.
      * **Distributed** (above the gate): iterative min-label
        propagation — per round one join (labels→neighbors) folded
        into a single min-aggregate, lineage cut with localCheckpoint
        (storage-level checkpoint on a real cluster); convergence
        tested with a LIMIT-1 existence probe, not a full count.
        Rounds = graph diameter; near-dup components are shallow so
        this converges in 2-4 rounds. The large-star/small-star
        rewrites (O(log n) rounds) are the drop-in upgrade if a
        pathological corpus ever yields deep components.

    The DuckDB oracle computes the same fixpoint declaratively with a
    recursive CTE over the registered LSH-pair SQL (min reachable id
    == component minimum).

    The labeling is memoized per (application, corpus): it is the
    shared input of dedup_keep_best and dedup_pipeline_summary, which
    previously each re-ran LSH + components wholesale. Cluster rows ≪
    corpus (only actual duplicates appear), so the checkpoint is
    small. A test that re-gates the regime on an already-memoized
    corpus must clear_index_memo() first (tests/test_properties.py).
    """
    return _index_stage(
        spark,
        sf_dir,
        "lsh_components",
        lambda: _components_build(spark, sf_dir),
    )


def _components_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The memoized LSH stage (already checkpointed) feeds the
    # edge-count gate + either regime without re-materializing.
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    n_pairs = pairs.count()

    if n_pairs <= COMPONENTS_LOCAL_MAX_EDGES:
        comp = _components_local(spark, pairs)
    else:
        comp = _components_distributed(pairs)
    wsz = W.partitionBy("canonical_id")
    return comp.select(
        "doc_id", "canonical_id", F.count("*").over(wsz).alias("component_size")
    )


def _components_local(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Driver union-find over a size-gated pair graph → (doc_id, canonical_id)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs.collect():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-id root ⇒ canonical = min
    import pandas as pd

    rows = [(node, find(node)) for node in parent]
    schema = pairs.select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("canonical_id")
    ).schema
    # Arrow-batched createDataFrame (pandas input) — the plain-list path
    # parallelizes Python objects and pays a Python-worker spin-up per
    # partition on first action (~3 s on local[32] for a 300-row frame).
    pdf = pd.DataFrame(rows, columns=["doc_id", "canonical_id"])
    return spark.createDataFrame(pdf, schema)


def _components_distributed(pairs: DataFrame) -> DataFrame:
    """Min-label propagation loop (the above-gate regime)."""
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst").localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    while True:
        prop = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "lbl"
        )
        new = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        improved = (
            new.join(labels.withColumnRenamed("lbl", "old"), "node")
            .filter(F.col("lbl") < F.col("old"))
            .limit(1)
            .count()
        )
        labels = new
        if improved == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("canonical_id"))


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup
# ---------------------------------------------------------------------------


#: Local-regime gates for exact Jaccard, all checked before any heavy
#: work: corpus text volume (bounds the one Arrow collect), doc count
#: (bounds the pair matrix), docs × vocab cells (bounds the dense
#: matrix), and total matmul FLOPs (bounds local compute). Outside any
#: gate the operator stays on the distributed inverted-index plan.
JACCARD_LOCAL_MAX_TEXT_BYTES = 64_000_000
JACCARD_LOCAL_MAX_DOCS = 20_000
JACCARD_LOCAL_MAX_CELLS = 32_000_000
JACCARD_LOCAL_MAX_FLOPS = 250e9

#: Document-frequency cap for Jaccard shingles: a gram present in
#: df > cap documents is boilerplate — it carries ~no pair signal at
#: threshold 0.5 but creates a quadratic hot bucket in the inverted
#: index (df² candidate pairs from that one gram). The cap is part of
#: the operator's SEMANTICS (Jaccard over discriminative shingles) and
#: is applied identically in the Spark plans, the local dense path,
#: and the DuckDB oracle. Integer arithmetic only, so both engines
#: compute the same cap: min(ABS, max(MIN, n_docs // 5)).
JACCARD_DF_CAP_ABS = 100_000
JACCARD_DF_CAP_MIN = 50


def _jaccard_df_cap(n_docs: int) -> int:
    return min(JACCARD_DF_CAP_ABS, max(JACCARD_DF_CAP_MIN, n_docs // 5))


#: The same cap as a DuckDB scalar subquery (kept textually in sync
#: with _jaccard_df_cap by construction).
JACCARD_DF_CAP_SQL = (
    f"(SELECT least({JACCARD_DF_CAP_ABS}, greatest({JACCARD_DF_CAP_MIN}, "
    f"count(*) // 5)) FROM documents)"
)

#: Cells per sweep tile in the local path (caps the block×n temps at
#: ~256 MB of f32). Derived per-call: block = cells // n, so the
#: 5000-doc bench corpus runs as ONE tile — measured 2.5× faster than
#: fixed 2048-row tiles (BLAS parallelizes one big sgemm better than
#: three slivers, and the Python-side temp churn triples).
_JACCARD_SWEEP_CELLS = 64_000_000


def _dense_shingle_matrix(sh: DataFrame, df_cap: int, vocab_cap: int):
    """Shared local-dense setup for _jaccard_local/_containment_local
    (factored r8 — the two verbatim copies of the collect/factorize/
    matrix-build/df-cap block previously had to be edited in sync,
    the same drift class _band_rows already got fixed for): one
    Arrow-batched collect of the shingle sets, a pd.factorize vocab
    index, the 0/1 f32 (docs × vocab) matrix, df-cap column zeroing,
    and the post-cap size recompute.

    Returns None when a gate says "use the distributed plan": the
    cells/FLOPs dense gates, or vocab above the caller's
    f32-exactness cap (the cap DIFFERS per caller because each fused
    tile test scales counts by its own integer coefficients — see
    _JACCARD_VOCAB_CAP / _CONTAINMENT_VOCAB_CAP). Otherwise returns
    (ids, sizes, M); n == 0 yields empty arrays, which the callers'
    tile loops handle naturally."""
    import numpy as np
    import pandas as pd

    pdf = sh.select("doc_id", "s").toPandas()
    n = len(pdf)
    sets = pdf["s"].to_numpy()
    sizes = np.fromiter((len(s) for s in sets), dtype=np.int64, count=n)
    flat = np.concatenate(sets) if sizes.sum() else np.array([], dtype=object)
    codes, uniques = pd.factorize(flat)
    nv = len(uniques)
    if n * nv > JACCARD_LOCAL_MAX_CELLS or 2.0 * n * n * nv > JACCARD_LOCAL_MAX_FLOPS:
        return None
    if nv > vocab_cap:
        return None
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    M = np.zeros((n, max(nv, 1)), dtype=np.float32)
    M[np.repeat(np.arange(n), sizes), codes] = 1.0
    # df-cap (see JACCARD_DF_CAP_*): zero out boilerplate-gram columns
    # and recompute sizes over the kept vocabulary — identical to the
    # distributed plans' and the oracles' capped semantics.
    if nv:
        gram_df = np.bincount(codes, minlength=nv)
        M[:, gram_df > df_cap] = 0.0
        sizes = M.sum(axis=1).astype(np.int64)
    return ids, sizes, M


def _jaccard_local(spark: SparkSession, sh: DataFrame, df_cap: int) -> DataFrame | None:
    """Exact all-pairs Jaccard in the local (small-corpus) regime.

    One Arrow-batched job computes the shingle sets; everything after
    is vectorized numpy: `pd.factorize` builds the vocab index in C,
    the sets become a 0/1 float32 (docs × vocab) matrix, and a blocked
    matmul yields |A∩B| exactly (binary dot products; counts ≤ 2^24
    are exact in f32).

    This is the same cost-based escape hatch as Catalyst's broadcast
    join: below the gates, the whole problem is smaller than the
    per-job overhead of a distributed plan (measured: five tokenizing
    jobs cost more in codegen+scheduling than the entire matmul), so
    the engine computes it where the data already fits. Returns None
    when post-collect stats exceed the dense gates — the caller then
    runs the distributed plan.

    The tile sweep preallocates its two tile buffers and thresholds
    in place in integer-only f32 (see the loop comment): the per-tile
    temporaries, not BLAS, were the run-to-run variance, and survivor
    counts come exactly from the tile buffer.
    """
    import numpy as np
    import pandas as pd

    out_schema = "doc_a long, doc_b long, jaccard double"
    # _JACCARD_VOCAB_CAP: exactness bound for the fused f32 threshold
    # — every scaled tile operand ((p+q)·common, p·size ≤ (p+q)·nv)
    # must stay an exact f32 integer (< 2^24). At t=1/2 this is
    # 2^24/3 = 5 592 405 (the old ≤2^23 gate admitted common up to
    # 8.3M, where a pair sitting exactly on the J=0.5 boundary could
    # flip vs the oracle — ADVICE r7). A ≥5.6M-gram vocab at n≤4 docs
    # is a degenerate shape anyway; distributed path.
    dense = _dense_shingle_matrix(sh, df_cap, _JACCARD_VOCAB_CAP)
    if dense is None:
        return None
    ids, sizes, M = dense
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], out_schema)
    out_a, out_b, out_j = [], [], []
    # p·|·| as exact integer-valued f32 (p·nv < 2^24 under the gate).
    psizes32 = sizes.astype(np.float32) * np.float32(JACCARD_THRESHOLD_NUM)
    block = max(1, _JACCARD_SWEEP_CELLS // max(n, 1))
    # Preallocated tile buffers + in-place ops (r8): the r7 sweep's
    # cost was NOT the GEMM (0.2-0.4 s) but the per-tile temporaries —
    # np.add.outer's 100 MB ssum, the scaled copies, the bool temp —
    # whose allocate/zero/free traffic swung 0.6→3.0 s run-to-run
    # under memory pressure (profiled segment-by-segment, loadavg
    # ≤1.9). One GEMM output and one bool buffer are reused across
    # tiles; everything else is in-place.
    nb = min(block, n)
    common = np.empty((nb, n), dtype=np.float32)
    cand = np.empty((nb, n), dtype=bool)
    for start in range(0, n, block):
        stop = min(start + block, n)
        cb, kb = common[: stop - start], cand[: stop - start]
        np.matmul(M[start:stop], M.T, out=cb)
        # Threshold in INTEGER-only f32 (ADVICE r7's alternative
        # form): with t = p/q,
        #   J ≥ t ⟺ q·common ≥ p·(ssum − common) ⟺ (p+q)·common ≥ p·ssum
        # evaluated in-place as (p+q)·common − p·|B| ≥ p·|A|, with
        # p+q = _JACCARD_TILE_COEF derived from the SAME rational the
        # distributed filter and oracle use (review finding r8: the
        # coefficient was previously hardcoded for t=1/2). Every
        # operand is an integer-valued f32: (p+q)·common ≤ (p+q)·nv
        # < 2^24 stays exact under the _JACCARD_VOCAB_CAP gate, and
        # the subtraction keeps integer magnitudes < 2^24 — no
        # half-integers anywhere, so the boundary cannot flip. The
        # |A|+|B| > 0 guard (ssum=0 would vacuously pass) moves to
        # the few survivors below.
        cb *= np.float32(_JACCARD_TILE_COEF)
        cb -= psizes32[None, :]
        np.greater_equal(cb, psizes32[start:stop, None], out=kb)
        ai, bj = np.nonzero(kb)
        keep = ids[start:stop][ai] < ids[bj]
        ai, bj = ai[keep], bj[keep]
        sa, sb = sizes[start + ai], sizes[bj]
        good = (sa + sb) > 0
        ai, bj, sa, sb = ai[good], bj[good], sa[good], sb[good]
        # Exact survivor counts recovered FROM the tile buffer (review
        # r8: an einsum recompute re-did O(survivors·vocab) of the
        # GEMM at scalar speed — on dup-heavy corpora survivors are
        # not few): cb holds coef·c − p·|B|, all integer-valued f32
        # ≤ coef·nv < 2^24, so adding back p·|B| and dividing by the
        # integer coef is exact (correctly-rounded division of exact
        # integers whose true quotient is a representable integer).
        com = (
            (cb[ai, bj] + psizes32[bj]) / np.float32(_JACCARD_TILE_COEF)
        ).astype(np.float64)
        uni = (sa + sb).astype(np.float64) - com
        jac = com / uni
        out_a.append(ids[start + ai])
        out_b.append(ids[bj])
        # Half-AWAY rounding (floor(x·10⁴ + 0.5), jaccard > 0), matching
        # Spark F.round (HALF_UP) and DuckDB round on the dyadic
        # half-boundaries (17/32 → 0.5313) where np.round's half-even
        # would emit 0.5312 and break the regime-equality contract.
        out_j.append(np.floor(jac * 1e4 + 0.5) / 1e4)
    res = pd.DataFrame(
        {
            "doc_a": np.concatenate(out_a),
            "doc_b": np.concatenate(out_b),
            "jaccard": np.concatenate(out_j),
        }
    )
    if res.empty:
        return spark.createDataFrame([], out_schema)
    return spark.createDataFrame(res, out_schema)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TX.TOKENS_SQL.format(c="text")} AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, list_distinct({TX.word_shingles_sql("t", 2)}) AS s
        FROM toks WHERE len(t) >= 2
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    gdf AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
    kept AS (
        SELECT e.doc_id, e.g FROM ex e JOIN gdf ON e.g = gdf.g
        WHERE gdf.df <= {JACCARD_DF_CAP_SQL}
    ),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id)
    SELECT doc_a, doc_b,
           {EX.ratio_round4_sql("n_common", "sa.n + sb.n - n_common", 0)} AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE {JACCARD_THRESHOLD_DEN} * n_common
          >= {JACCARD_THRESHOLD_NUM} * (sa.n + sb.n - n_common)
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard near-dup pairs, with a stats-driven
    physical strategy (both produce identical results):

    * **local dense** — when parquet footer metadata says the corpus
      is tiny (see the JACCARD_LOCAL_* gates): factorize + blocked
      binary matmul (_jaccard_local). The test corpus is exactly this
      shape (931 bigrams shared by every document → the inverted
      index degenerates to ~all-pairs with 931 hot join keys, a skew
      lottery measured at 8-24 s, while the whole problem is <1 s of
      BLAS).
    * **inverted index** — the scale path: self-join on the shingle,
      size-ratio prune in the join condition (J ≥ t ⇒ sizes within
      1/t — exact), pair-count aggregation. Shuffle key is the
      shingle; at 100 TB natural-text vocabularies are huge and
      sparse, which is what this plan is shaped for.

    Both regimes (and the oracle) apply the JACCARD_DF_CAP_* document
    frequency cap first: boilerplate grams (df > cap) are dropped from
    the sets before sizing and intersection. The cap is the semantics
    — similarity over discriminative shingles — and the scale defense:
    one every-doc gram otherwise creates a df² hot bucket in the
    inverted index (this corpus has 931 such bigrams).

    Deciding from measured stats is the same move Catalyst makes
    choosing broadcast vs shuffle joins — the operator picks the
    physical plan the data's shape demands.
    """
    docs = _docs(spark, sf_dir)
    tok = TX.tokens("text")
    sh = (
        docs.select("doc_id", tok.alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.array_distinct(TX.word_shingles(F.col("t"), 2)).alias("s"))
    )
    # Strategy stats from parquet footers — metadata only, NO Spark
    # job (the embedding-gate pricing): exact rowcount, plus the text
    # column's uncompressed byte size, which upper-bounds total chars
    # (BYTE_ARRAY adds a 4-byte length prefix per value), so the byte
    # gate is strictly more conservative than the char scan it
    # replaced. A 100 TB corpus blows the gate from metadata without
    # scanning a byte of text.
    n_docs = table_rowcount(sf_dir, "documents")
    text_bytes = table_column_bytes(sf_dir, "documents", "text")
    df_cap = _jaccard_df_cap(n_docs)
    if n_docs <= JACCARD_LOCAL_MAX_DOCS and text_bytes <= JACCARD_LOCAL_MAX_TEXT_BYTES:
        local = _jaccard_local(spark, sh, df_cap)
        if local is not None:
            return local
    # explode_nonempty (s is computed + non-empty by the size filter):
    # plain explode triggers InferFiltersFromGenerate, which inlines
    # the whole tokenize→shingle pipeline into an inferred filter and
    # re-evaluates it per row — a measured 26× on this stage. Part of
    # the "8-24 s" this docstring's local-path gate was built against
    # was exactly that recompute, not join skew alone.
    ex0 = sh.select("doc_id", explode_nonempty("s").alias("g"))
    # df-cap via one window over the gram key (same shuffle the pair
    # join needs anyway), then re-size each doc over KEPT grams only.
    ex = (
        ex0.withColumn("df", F.count("*").over(W.partitionBy("g")))
        .filter(F.col("df") <= df_cap)
        .drop("df")
        .withColumn("n", F.count("*").over(W.partitionBy("doc_id")))
    )
    a, b = ex.alias("a"), ex.alias("b")
    # Size-ratio prune inside the join condition: J(A,B) ≤ min/max of
    # the set sizes, so J ≥ t ⇒ |A| and |B| within a 1/t factor —
    # exact, and it drops mismatched-size pairs before the pair
    # aggregation (measured ~2.5× on the dense test corpus). Carrying
    # n through the join also removes the two post-join size lookups.
    # Integer form p·n ≤ q·m (review r8): the float form n·t ≤ m is
    # identical at the dyadic default t = 1/2, but a non-dyadic
    # threshold whose double rounds UP would drop boundary pairs the
    # exact local tile test keeps — the cross-regime desync the
    # derived-constants refactor exists to prevent.
    p, q = JACCARD_THRESHOLD_NUM, JACCARD_THRESHOLD_DEN
    ratio_ok = (F.col("a.n") * p <= F.col("b.n") * q) & (
        F.col("b.n") * p <= F.col("a.n") * q
    )
    common = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ratio_ok,
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.first("a.n").alias("na"),
            F.first("b.n").alias("nb"),
        )
    )
    uni = F.col("na") + F.col("nb") - F.col("n_common")
    # Integer threshold q·common ≥ p·union — exact for ANY rational
    # threshold, in lockstep with the local tile test and the oracle
    # (review r8; the float compare was identical only at dyadic t).
    # The EMITTED value goes through the exact ratio identity — raw
    # round() of an int/int quotient flips at 5th-decimal ties when
    # the union size has factor-5 denominators (r6 policy).
    return (
        common.filter(F.col("n_common") * q >= uni * p)
        .select(
            "doc_a",
            "doc_b",
            EX.ratio_round4(F.col("n_common"), uni, 0).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: 60 bits = 15 hex chars of md5 — the widest md5 prefix whose unsigned
#: value still fits a signed BIGINT in BOTH engines (16 chars could set
#: bit 63 and overflow the cast). 60 bits un-clusters the segment
#: buckets that a 16-bit signature degenerates into on dup-heavy
#: corpora (r1 bench: 540k hamming≤2 "pairs" at sf0.1 were 16-bit
#: collision noise, and materializing them WAS the query's cost).
SIMHASH_BITS = 60
SIMHASH_HEX = SIMHASH_BITS // 4  # md5 prefix length, 4 bits per hex char
SIMHASH_HAMMING_MAX = 3  # ≤3 differing bits ⇒ ≥1 of 4 segments exact
SIMHASH_SEGMENTS = tuple((15 * i, 0x7FFF) for i in range(4))  # 4 × 15-bit

#: Below this doc count, dedup_simhash's exact pair scan runs locally
#: on collected signatures (8 bytes/doc). The scan is tiled
#: (_simhash_pairs_local): per byte-lane uint8 blocks of
#: SIMHASH_TILE_ROWS × n, never an n×n int64 matrix — at the cap the
#: peak block is 4096 × 10k × 2 ≈ 80 MB and the popcount work is
#: 8·n² ≈ 8×10⁸ uint8 table lookups (~1 s of numpy), both honest
#: driver budgets. Above it the banded segment join runs: with 60-bit
#: signatures a 15-bit segment has 32768 buckets, so the candidate
#: set tracks true duplicates, not n².
SIMHASH_LOCAL_MAX_DOCS = 10_000
SIMHASH_TILE_ROWS = 4_096
#: Candidate budget for the segment-run local scan, as a multiple of
#: n_docs (matches the tiled fallback's block size, so switching to
#: the fallback never raises peak memory). Patchable in tests to
#: force the fallback path.
SIMHASH_LOCAL_CAND_ROWS = SIMHASH_TILE_ROWS


#: SWAR vote packing for _simhash_frame: each 64-bit accumulator sums
#: three 20-bit counter lanes (bits j, j+20, j+40 of the token hash),
#: so the 60 per-bit counts ride in SIMHASH_BITS/3 = 20 aggregates.
#: A 20-bit lane overflows at 2^20 tokens per doc — guarded loudly.
SIMHASH_LANE_BITS = 20
SIMHASH_LANE_COUNT = 3  # lanes per accumulator (20 × 3 = 60 bits)
SIMHASH_LANE_MASK = sum(1 << (SIMHASH_LANE_BITS * k) for k in range(SIMHASH_LANE_COUNT))
SIMHASH_DOC_TOKEN_CAP = 1 << SIMHASH_LANE_BITS


def _simhash_frame(docs: DataFrame) -> DataFrame:
    """SimHash signatures as explode → groupBy(doc_id) with SWAR
    bit-sliced vote counting — the hot-path formulation.

    The ±1 vote for bit i is algebraically 2·popcount_i − n_tokens, so
    only the per-bit ONE-counts are aggregated: accumulator j
    (j < 20) sums ``(h >> j) & 0x10000100001`` — one shift, one mask,
    one long add per token — packing the counts of bits j, j+20, j+40
    into three 20-bit lanes of a single long. That is 20 aggregate
    buffers + count(*) instead of 60 conditional sums (the r2
    regression: 60 scalar aggregates made the signature pass the
    slowest query). Lanes are unpacked once per DOC row, not per
    token. A doc with ≥ 2^20 tokens would overflow a lane; that
    raises loudly rather than corrupting signatures (a 4 MB+
    single-document text is a data defect upstream of simhash).

    The per-row array-lambda version (_simhash_col) is the scalar
    reference; property tests pin the two equal. The groupBy's
    map-side partial aggregation reduces each task's tokens to 21
    longs per doc before any shuffle — at 100 TB the shuffle carries
    n_docs × 21 longs, not tokens. Precondition: text is non-NULL —
    `split` always yields ≥1 token so explode drops no doc, but a
    NULL text would (the corpus schema guarantees non-NULL).

    Expressions are assembled as SQL strings (one F.expr per output
    column), not per-bit Column operators: the 60-term Column loop
    cost ~1.1 s of py4j round-trips PER QUERY BUILD — 3-4× the plan's
    entire execution at sf0.1 — and query build is paid on every
    driver/bench invocation. Same analyzed plan either way.
    """
    # split() yields ≥1 element for any non-NULL string, so the
    # explode_nonempty contract holds; plain explode would re-split
    # each row 2× extra inside an inferred filter (functions/arrays.py).
    h_sql = f"CAST(conv(substring(md5(tok), 1, {SIMHASH_HEX}), 16, 10) AS BIGINT)"
    ex = docs.select("doc_id", explode_nonempty(TX.tokens("text")).alias("tok")).select(
        "doc_id", F.expr(h_sql).alias("h")
    )
    n_acc = SIMHASH_BITS // SIMHASH_LANE_COUNT
    aggs = [F.expr("count(*)").alias("n")] + [
        F.expr(f"sum(shiftright(h, {j}) & {SIMHASH_LANE_MASK})").alias(f"c{j}")
        for j in range(n_acc)
    ]
    lane_full = SIMHASH_DOC_TOKEN_CAP - 1
    # bit set iff vote sum > 0 iff 2·ones > n (ties → unset, as ±1)
    terms = " + ".join(
        f"(CASE WHEN ((c{b % n_acc} >> {SIMHASH_LANE_BITS * (b // n_acc)}) & {lane_full}) * 2"
        f" > n THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    guarded = (
        f"CAST(CASE WHEN n >= {SIMHASH_DOC_TOKEN_CAP} THEN"
        f" raise_error('simhash: document exceeds 2^20 tokens (lane overflow)')"
        f" ELSE {terms} END AS BIGINT)"
    )
    return ex.groupBy("doc_id").agg(*aggs).select("doc_id", F.expr(guarded).alias("simhash"))


def _simhash_col(tok: F.Column) -> F.Column:
    """SimHash: per-bit ±1 votes over md5-hashed tokens (with
    multiplicity), bit set iff the vote sum is positive.

    Scalar reference implementation (see _simhash_frame for the hot
    path; property tests pin the two equal). The token array is hashed
    once; each bit's vote is a separate aggregate traversal with a
    LITERAL shift amount — integer-exact at any width, unlike a
    div-by-pow(2.0, i) bit test, which silently loses bits past
    double's 53-bit mantissa.
    """
    th = F.transform(
        tok, lambda t: F.conv(F.substring(F.md5(t), 1, SIMHASH_HEX), 16, 10).cast("long")
    )
    def _vote(i: int):
        # factory closure: pyspark requires the merge lambda to take
        # exactly two parameters, so the bit index binds via closure
        return lambda a, h: a + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        vote = F.aggregate(th, F.lit(0), _vote(i))
        out = out + F.when(vote > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out


def _simhash_sig_cte() -> str:
    """DuckDB CTE chain ending in sig(doc_id, simhash) — unnest the
    tokens, hash each ONCE, then one grouped ±1 vote sum per bit
    (mirrors _simhash_frame; a per-bit list_transform would recompute
    the md5 SIMHASH_BITS times per token — measured ~25 s at sf0.01)."""
    toks = TX.TOKENS_SQL.format(c="text")
    h = f"CAST(CAST(concat('0x', substr(md5(tok), 1, {SIMHASH_HEX})) AS UBIGINT) AS BIGINT)"
    votes = ",\n               ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
    toks AS (SELECT doc_id, {toks} AS tk FROM documents),
    ex AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
    hashed AS (SELECT doc_id, {h} AS h FROM ex),
    votes AS (SELECT doc_id,
               {votes}
              FROM hashed GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes)"""


@retired_query(
    "simhash_signatures",
    oracle=f"""
    WITH {_simhash_sig_cte()}
    SELECT doc_id, simhash FROM sig
    """,
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (60-bit, token-level, md5 bit votes).

    All-integer arithmetic → bit-exact oracle. Scale: one pass whose
    shuffle is n_docs × 21 longs after map-side combine
    (_simhash_frame); agg-only, so the groupBy shuffle provides the
    parallelism — no split-spread Exchange.

    RETIRED r9 (150-slot cadence cap; VERDICT r8 #5): subsumed by
    dedup_simhash, whose oracle recomputes these signatures on both
    sides; pytest-verified via tests/test_retired_queries.py.
    """
    return _simhash_frame(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_sig_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming ≤ 3 on 60-bit signatures.

    Multi-index (pigeonhole) banding, not a quadratic scan: split the
    bits into 4 segments of 15. Any pair within Hamming ≤ 3 has at
    most 3 differing segments, so it matches EXACTLY on ≥1 segment.
    Each signature explodes into 4 (segment_idx, segment_val) keys and
    ONE self-equi-join on that key generates the complete candidate
    set; the exact Hamming filter prunes false candidates, and the
    FIRST-MATCHING-SEGMENT rule (keep a pair only at the lowest
    segment index where the two signatures agree — decidable from the
    two simhashes already on the joined row) emits each pair exactly
    once WITHOUT a dropDuplicates exchange. One shuffle total, versus
    the r2 shape's four joins + union + dedup (five exchanges).
    Output is provably identical to the all-pairs scan (which is what
    the SQL oracle runs), but the join is hash-based — the 100 TB
    path. A 15-bit segment has 32768 buckets, so bucket occupancy —
    and with it candidate volume — tracks true duplicates, not n²
    (the r1 16-bit signature clustered into 64 buckets/segment and
    degenerated; width is the lever, see SIMHASH_BITS).

    Below SIMHASH_LOCAL_MAX_DOCS the signatures (8 bytes/doc) are
    collected and the exact pair scan runs locally, tiled so no n×n
    matrix ever materializes (peak extra memory ≈ 2 tile rows ×
    n_docs bytes ≈ tens of MB at the gate) — the same stats-gated
    escape hatch as JACCARD_LOCAL_*, with a forced-path test pinning
    the two regimes equal (tests/test_properties.py).
    """
    docs = load_table(spark, sf_dir, "documents")  # agg-only: no spread
    sig = _simhash_frame(docs)
    n_docs = table_rowcount(sf_dir, "documents")  # footer metadata, no job
    if n_docs <= SIMHASH_LOCAL_MAX_DOCS:
        return _simhash_pairs_local(spark, sig)
    sig = sig.cache()
    # Materialize BEFORE the self-join: both join sides otherwise race
    # to fill the same cached partitions and serialize on block locks
    # (same pathology + fix as dedup_minhash_lsh's sig.count(),
    # measured there at ~4× blocked-vs-CPU time; review finding).
    sig.count()
    seg_keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("idx"),
                F.shiftright("simhash", shift).bitwiseAND(F.lit(mask)).alias("seg"),
            )
            for i, (shift, mask) in enumerate(SIMHASH_SEGMENTS)
        ]
    )
    keyed = sig.select("doc_id", "simhash", F.explode(seg_keys).alias("k")).select(
        "doc_id", "simhash", "k.idx", "k.seg"
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    joined = a.join(
        b,
        (F.col("a.idx") == F.col("b.idx"))
        & (F.col("a.seg") == F.col("b.seg"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    # seg_differs[j]: do the two signatures disagree on segment j?
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    seg_differs = [
        F.shiftright(xor, shift).bitwiseAND(F.lit(mask)) != 0
        for shift, mask in SIMHASH_SEGMENTS
    ]
    # First-match rule: keep the pair only at the lowest matching
    # segment — idx == 0 always qualifies; idx == k qualifies iff
    # segments 0..k-1 all differ.
    cond = F.col("a.idx") == 0
    acc = None
    for j in range(1, len(SIMHASH_SEGMENTS)):
        acc = seg_differs[j - 1] if acc is None else acc & seg_differs[j - 1]
        cond = cond | ((F.col("a.idx") == j) & acc)
    return joined.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.bit_count(xor).alias("hamming"),
        cond.alias("_first"),
    ).filter((F.col("hamming") <= SIMHASH_HAMMING_MAX) & F.col("_first")).drop("_first")


def _popcount64(x):
    """Vectorized SWAR popcount over a non-negative int64 ndarray."""
    import numpy as np

    v = x.astype(np.uint64)
    v = v - ((v >> np.uint64(1)) & np.uint64(0x5555555555555555))
    v = (v & np.uint64(0x3333333333333333)) + ((v >> np.uint64(2)) & np.uint64(0x3333333333333333))
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((v * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int32)


def _simhash_pairs_local(spark: SparkSession, sig: DataFrame) -> DataFrame:
    """Local exact Hamming pair scan over collected signatures.

    Same pigeonhole argument as the distributed path, applied in
    numpy: a pair within Hamming ≤ 3 of a 4×15-bit split agrees on
    ≥ 1 segment, so candidates come from sorting each segment's
    values and pairing equal runs — O(n log n) + output, versus the
    O(n²/tile) byte-table scan this replaces (0.72 s of the query's
    1.7 s at sf0.1's 5 000 docs; ~10 ms now). Candidates are
    deduplicated across segments, then the exact SWAR popcount
    filter runs on just those pairs — output provably identical to
    the all-pairs scan. A degenerate corpus (one dominant segment
    value ⇒ run-quadratic candidates) falls back to the bounded
    tiled scan, so peak memory stays ≈ SIMHASH_TILE_ROWS × n either
    way, never an n×n matrix (ADVICE r2 on optimistic collect
    sizing).
    """
    import numpy as np
    import pandas as pd

    out_schema = "doc_a long, doc_b long, hamming int"
    pdf = sig.toPandas()
    if pdf.empty:
        return spark.createDataFrame([], out_schema)
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    h = pdf["simhash"].to_numpy(dtype=np.int64)  # < 2^60, non-negative
    n = len(h)

    cand_a: list = []
    cand_b: list = []
    cand_budget = SIMHASH_LOCAL_CAND_ROWS * max(n, 1)  # ≈ the tiled scan's block size
    n_cands = 0
    for shift, mask in SIMHASH_SEGMENTS:
        seg = (h >> shift) & mask
        order = np.argsort(seg, kind="stable")
        sv = seg[order]
        # run starts: positions where the sorted segment value changes
        starts = np.flatnonzero(np.r_[True, sv[1:] != sv[:-1]])
        ends = np.r_[starts[1:], n]
        for s, e in zip(starts, ends):
            run = e - s
            if run < 2:
                continue
            n_cands += run * (run - 1) // 2
            if n_cands > cand_budget:
                return _simhash_pairs_local_tiled(spark, ids, h)
            members = order[s:e]
            ii, jj = np.triu_indices(run, k=1)
            cand_a.append(members[ii])
            cand_b.append(members[jj])
    if not cand_a:
        return spark.createDataFrame([], out_schema)
    a = np.concatenate(cand_a)
    b = np.concatenate(cand_b)
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    keys = np.unique(lo * np.int64(n) + hi)  # dedup pairs found via >1 segment
    a, b = keys // n, keys % n
    pc = _popcount64(h[a] ^ h[b])
    keep = (pc <= SIMHASH_HAMMING_MAX) & (ids[a] != ids[b])  # strict doc_a < doc_b
    a, b, pc = a[keep], b[keep], pc[keep]
    ida, idb = ids[a], ids[b]
    swap = ida > idb  # emit with doc_a < doc_b regardless of index order
    ida2 = np.where(swap, idb, ida)
    idb2 = np.where(swap, ida, idb)
    res = pd.DataFrame({"doc_a": ida2, "doc_b": idb2, "hamming": pc})
    if res.empty:
        return spark.createDataFrame([], out_schema)
    return spark.createDataFrame(res, out_schema)


def _simhash_pairs_local_tiled(spark: SparkSession, ids, h) -> DataFrame:
    """Bounded-memory all-pairs fallback: byte-table popcount over
    (SIMHASH_TILE_ROWS × n) uint8 blocks. Only reached when segment
    runs degenerate (candidate count would exceed the tiled scan's
    own block budget)."""
    import numpy as np
    import pandas as pd

    out_schema = "doc_a long, doc_b long, hamming int"
    n = len(h)
    pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    hb = [((h >> (8 * k)) & 0xFF).astype(np.uint8) for k in range(8)]
    out_a, out_b, out_h = [], [], []
    for s in range(0, n, SIMHASH_TILE_ROWS):
        e = min(s + SIMHASH_TILE_ROWS, n)
        pc = np.zeros((e - s, n), dtype=np.uint8)
        for k in range(8):  # byte-table popcount, one uint8 block at a time
            pc += pop8[hb[k][s:e, None] ^ hb[k][None, :]]
        ai, bj = np.nonzero((pc <= SIMHASH_HAMMING_MAX) & (ids[s:e, None] < ids[None, :]))
        out_a.append(ids[s:e][ai])
        out_b.append(ids[bj])
        out_h.append(pc[ai, bj].astype(np.int32))
    res = pd.DataFrame(
        {
            "doc_a": np.concatenate(out_a),
            "doc_b": np.concatenate(out_b),
            "hamming": np.concatenate(out_h),
        }
    )
    if res.empty:
        return spark.createDataFrame([], out_schema)
    return spark.createDataFrame(res, out_schema)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@retired_query(
    "embedding_norms",
    oracle=f"""
    SELECT vec_id, label,
           round(sqrt({VX.dot_sql("embedding", "embedding")}), 6) AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms — the array-math primitive behind every similarity op.

    Plain array<float> + higher-order functions; no VectorUDT, no
    Python (SURVEY.md §7 watch-list #6).

    RETIRED r9 (150-slot cadence cap; VERDICT r8 #5): the dot/norm
    primitive is exercised by every registered knn/ann/cosine query;
    pytest-verified via tests/test_retired_queries.py.
    """
    emb = _embs(spark, sf_dir)
    return emb.select("vec_id", "label", F.round(VX.norm("embedding"), 6).alias("l2_norm"))


@query(
    "knn_bruteforce_cosine",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10
    ),
    pairs AS (
        SELECT q.qid, e.vec_id AS nid,
               {VX.cosine_sql("q.qe", "e.embedding")} AS cos
        FROM q JOIN embeddings e ON e.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid AS query_id, nid AS neighbor_id, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
        FROM pairs
    )
    SELECT query_id, neighbor_id, {EX.round_pz_sql("cos", 6)} AS cosine, rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a 10-vector query set (ANN baseline).

    Scale: the query side broadcasts (it's the small side by
    construction), so the corpus is scanned exactly once with no
    shuffle for the join; the per-query top-k is a window with a
    pushed-down group limit. Brute force is the recall=1.0 baseline;
    the scale path is ann_lsh_bucketed below.
    """
    emb = _embs(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        VX.cosine(F.col("qe"), F.col("embedding")).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            # a top-k cosine can be a tiny negative that rounds to
            # IEEE -0.0 in one engine and +0.0 in the other
            # (signed-zero class, review r9)
            EX.round_pz(F.col("cos"), 6).alias("cosine"),
            "rnk",
        )
    )


@query(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding,
               {VX.sign_lsh_bucket_sql("embedding")} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM b WHERE vec_id < 10),
    pairs AS (
        SELECT q.qid, b.vec_id AS nid, q.bucket,
               {VX.cosine_sql("q.qe", "b.embedding")} AS cos
        FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid AS query_id, nid AS neighbor_id, bucket, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
        FROM pairs
    )
    SELECT query_id, neighbor_id, bucket, {EX.round_pz_sql("cos", 6)} AS cosine, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via sign-LSH buckets (the 100 TB similarity path).

    Vectors only compare within their 8-bit sign bucket → candidate
    count drops ~256× vs brute force; recall is approximate by
    design. The bucket code is deterministic (axis-aligned
    hyperplanes) so the oracle reproduces it exactly.

    Scale: bucket is the shuffle key; multi-probe (flipping low-margin
    bits) raises recall without changing the plan shape.
    """
    emb = _embs(spark, sf_dir)
    b = emb.select("vec_id", "embedding", VX.sign_lsh_bucket("embedding").alias("bucket"))
    q = b.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "bucket"
    )
    pairs = b.join(F.broadcast(q), ["bucket"]).filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "bucket",
        VX.cosine(F.col("qe"), F.col("embedding")).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            # signed-zero normalization (EX.round_pz docstring)
            EX.round_pz(F.col("cos"), 6).alias("cosine"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_SQL = ", ".join(f"'{s}'" for s in TX.STOPWORDS)


@query(
    "text_quality_scores",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, n_chars, {TX.TOKENS_SQL.format(c="text")} AS t FROM documents
    ),
    m AS (
        SELECT doc_id, n_chars,
               len(t) AS n_tokens,
               len(list_distinct(t)) AS n_distinct_tokens,
               CAST(list_sum(list_transform(t, s -> length(s))) AS BIGINT) AS token_chars,
               len(list_filter(t, s -> s IN ({_STOP_SQL}))) AS n_stopwords
        FROM toks
    )
    SELECT doc_id, n_tokens, n_distinct_tokens,
           {EX.ratio_round4_sql("token_chars", "n_tokens", 0)}       AS avg_token_len,
           {EX.ratio_round4_sql("n_stopwords", "n_tokens", 0)}       AS stopword_ratio,
           {EX.ratio_round4_sql("n_distinct_tokens", "n_tokens", 0)} AS distinct_ratio,
           CASE WHEN n_tokens >= 30 AND n_distinct_tokens * 1.0 / n_tokens >= 0.3 THEN 'good'
                WHEN n_tokens >= 10 THEN 'fair'
                ELSE 'poor' END AS quality_band
    FROM m
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics + band (filtering signal for
    training-data curation). Single narrow pass, no shuffle."""
    docs = _docs(spark, sf_dir)
    t = TX.tokens("text")
    stop_arr = F.array(*[F.lit(s) for s in TX.STOPWORDS])
    m = docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.aggregate(F.transform(t, lambda s: F.length(s)), F.lit(0), lambda a, x: a + x).alias("token_chars"),
        F.size(F.filter(t, lambda s: F.array_contains(stop_arr, s))).alias("n_stopwords"),
    )
    distinct_ratio = F.col("n_distinct_tokens") / F.col("n_tokens")
    return m.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        EX.ratio_round4(F.col("token_chars"), F.col("n_tokens"), 0).alias("avg_token_len"),
        EX.ratio_round4(F.col("n_stopwords"), F.col("n_tokens"), 0).alias("stopword_ratio"),
        EX.ratio_round4(F.col("n_distinct_tokens"), F.col("n_tokens"), 0).alias("distinct_ratio"),
        F.when((F.col("n_tokens") >= 30) & (distinct_ratio >= 0.3), "good")
        .when(F.col("n_tokens") >= 10, "fair")
        .otherwise("poor")
        .alias("quality_band"),
    )


@query(
    "text_repetition_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TX.TOKENS_SQL.format(c="text")} AS t FROM documents
    ),
    top AS (
        SELECT doc_id, max(c) AS top_token_count
        FROM (SELECT doc_id, w, count(*) AS c
              FROM (SELECT doc_id, unnest(t) AS w FROM toks)
              GROUP BY doc_id, w)
        GROUP BY doc_id
    ),
    grams AS (
        SELECT doc_id, t,
               CASE WHEN len(t) >= 2 THEN {TX.word_shingles_sql("t", 2)}
                    ELSE CAST([] AS VARCHAR[]) END AS g2,
               CASE WHEN len(t) >= 3 THEN {TX.word_shingles_sql("t", 3)}
                    ELSE CAST([] AS VARCHAR[]) END AS g3
        FROM toks
    ),
    m AS (
        SELECT g.doc_id,
               len(t) AS n_tokens,
               top.top_token_count,
               len(g2) AS n_2grams,
               len(g2) - len(list_distinct(g2)) AS n_dup_2grams,
               len(g3) AS n_3grams,
               len(g3) - len(list_distinct(g3)) AS n_dup_3grams
        FROM grams g JOIN top ON g.doc_id = top.doc_id
    )
    SELECT doc_id, n_tokens, top_token_count,
           n_2grams, n_dup_2grams, n_3grams, n_dup_3grams,
           (5 * top_token_count > n_tokens
            OR 10 * n_dup_2grams > 3 * n_2grams
            OR 5 * n_dup_3grams > n_3grams) AS is_repetitive
    FROM m
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document — the quality
    filter that removes degenerate (looping/boilerplate) text from a
    training corpus: most-frequent-token count, duplicate word-2gram /
    3gram counts, and a repetitiveness flag at the standard-ish
    thresholds (top-token fraction > 0.2, dup-2gram > 0.3, dup-3gram
    > 0.2 — cf. Gopher's repetition rules, Rae et al. 2021).

    Engine-exact by construction: every output is an integer count,
    and the flag is integer cross-multiplication (5·top > n etc.), so
    there is no float to drift. The gram stats are a narrow row-local
    pass (array_distinct/size — native functions, codegen'd); the
    top-token count runs as explode → (doc, token) count → per-doc
    max — fully codegen'd two-Exchange aggregation, the same shape as
    dedup_exact. (A row-local transform/filter-lambda formulation is
    O(distinct·n) in INTERPRETED higher-order lambdas — HOF lambdas
    never enter codegen — and measured ~5× slower at bench scale;
    it also caps at per-row memory, while the exploded shape spreads
    megabyte documents across reducers.)
    """
    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", TX.tokens("text").alias("t"))
    t = F.col("t")
    empty = F.array().cast("array<string>")

    # tokens() of any string is non-empty (split yields [''] on ""),
    # so explode_nonempty is safe and dodges the
    # InferFiltersFromGenerate recompute on computed arrays.
    top = (
        base.select("doc_id", explode_nonempty(t).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_token_count"))
    )

    def grams(n: int) -> F.Column:
        # Spark's sequence() auto-steps -1 on descending ranges, so
        # word_shingles must be guarded for short docs (the DuckDB
        # twin's range() is naturally empty there; CASE/when branches
        # evaluate lazily per row in both engines).
        return F.when(F.size(t) >= n, TX.word_shingles(t, n)).otherwise(empty)

    g2, g3 = grams(2), grams(3)
    m = base.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(g2).alias("n_2grams"),
        (F.size(g2) - F.size(F.array_distinct(g2))).alias("n_dup_2grams"),
        F.size(g3).alias("n_3grams"),
        (F.size(g3) - F.size(F.array_distinct(g3))).alias("n_dup_3grams"),
    ).join(top, ["doc_id"])
    rep = (
        (F.lit(5) * F.col("top_token_count") > F.col("n_tokens"))
        | (F.lit(10) * F.col("n_dup_2grams") > F.lit(3) * F.col("n_2grams"))
        | (F.lit(5) * F.col("n_dup_3grams") > F.col("n_3grams"))
    )
    return m.select(
        "doc_id", "n_tokens", "top_token_count",
        "n_2grams", "n_dup_2grams", "n_3grams", "n_dup_3grams",
        rep.alias("is_repetitive"),
    )


@query(
    "text_lang_stats",
    oracle=f"""
    SELECT lang, source,
           count(*)                 AS n_docs,
           {EX.avg_round4_sql('n_chars', 0)} AS avg_chars,
           min(n_chars)             AS min_chars,
           max(n_chars)             AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition profile by (lang, source) — the first query
    anyone runs on a crawl dump."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        EX.avg_round4(F.col("n_chars").cast("long"), 0).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "token_count_regex",
    oracle="""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+'))           AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (alpha runs / digit runs / other symbols) — the cheap token
    estimator used for corpus sizing."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))).alias(
            "bpe_ish_tokens"
        ),
    )


@query(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           CAST(list_min(list_transform(
               {TX.char_shingles_sql("text", 8)},
               s -> {TX.hash32_sql("s")})) AS BIGINT)               AS fingerprint,
           len(list_distinct({TX.char_shingles_sql("text", 8)}))    AS n_distinct_shingles
    FROM documents
    WHERE length(text) >= 8
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min 32-bit hash over all
    8-char shingles (winnowing's global special case). Equal
    fingerprints → strong containment signal across documents."""
    docs = _docs(spark, sf_dir).filter(F.length("text") >= 8)
    sh = TX.char_shingles("text", 8)
    hashed = F.transform(sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"))
    return docs.select(
        "doc_id",
        F.array_min(hashed).alias("fingerprint"),
        F.size(F.array_distinct(sh)).alias("n_distinct_shingles"),
    )


# ---------------------------------------------------------------------------
# Multimodal pipeline (mapInPandas plumbing; decode stubbed)
# ---------------------------------------------------------------------------


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           'text/plain'            AS mime,
           octet_length(encode(text)) AS byte_len,
           ascii(substr(text, 1, 1)) AS first_byte
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via Arrow-batched mapInPandas.

    Exercises the full multimodal path — payload binary column +
    typed metadata struct + Pandas-batch decode (stubbed,
    deterministic) — and the oracle still verifies it end-to-end
    because the stub's features are SQL-computable. The oracle's
    char==byte addressing (ascii(substr(...)) vs payload[0]) assumes
    a pure-ASCII corpus — pinned per fixture SF by
    tests/test_sinks_and_plans.py::test_multimodal_oracle_corpus_assumption_holds.
    """
    from bigdata_riveranalysis_spark.operators.multimodal import attach_payload, extract_features

    docs = _docs(spark, sf_dir)
    return extract_features(attach_payload(docs))


# ---------------------------------------------------------------------------
# Embedding aggregation + embedding-space near-dup
# ---------------------------------------------------------------------------


def _label_dim_means(emb: DataFrame) -> DataFrame:
    """Per-(label, dim) centroid components — THE centroid definition,
    shared by embedding_centroids and the IVF quantizer so the two
    cannot drift (they were previously duplicated; review finding).
    posexplode → partial-agged avg: the shuffle key is (label, dim).

    Determinism note: avg() over doubles is order-dependent at the
    ulp level (partial-sum order differs between engines), so
    centroid-derived outputs are compared under rounding, and an
    argmax over centroid cosines could in principle flip on a
    sub-ulp tie — measure-zero for real embedding data, same honesty
    stance as dedup_embedding_cosine's BLAS note."""
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    return ex.groupBy("label", "dim").agg(F.avg(F.col("v").cast("double")).alias("mu"))


@query(
    "embedding_centroids",
    oracle="""
    WITH ex AS (
        SELECT label, u.dim - 1 AS dim, u.v
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS v,
                             generate_subscripts(embedding, 1) AS dim) u
    ),
    dims AS (
        SELECT label, dim, avg(CAST(v AS DOUBLE)) AS mu
        FROM ex GROUP BY label, dim
    )
    SELECT label,
           count(*)                                  AS n_dims,
           round(sum(mu * mu), 6)                    AS centroid_sq_norm,
           round(max(abs(mu)), 6)                    AS max_abs_component
    FROM dims GROUP BY label
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (dim-wise mean) of the embedding space,
    summarized by its squared norm and largest component.

    posexplode → (label, dim) mean is the distributed formulation:
    the shuffle key is (label, dim), so a 100 TB corpus spreads over
    label×dim reducers instead of bottlenecking one reducer per
    label with whole-vector state. (An array-valued centroid output
    would also hash-compare, but scalar summaries keep the oracle
    diff readable.)

    Agg-only query → no split-spread: the groupBy's shuffle provides
    the parallelism (same rationale as dedup_exact), and at scale the
    scan's own splits parallelize the map side. The spread would be a
    pure extra Exchange of raw vectors ahead of the partial agg.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = _label_dim_means(emb)
    return dims.groupBy("label").agg(
        F.count("*").alias("n_dims"),
        F.round(F.sum(F.col("mu") * F.col("mu")), 6).alias("centroid_sq_norm"),
        F.round(F.max(F.abs("mu")), 6).alias("max_abs_component"),
    )


# Production semantic-dedup runs at ~0.95+; the synthetic test
# embeddings are near-orthogonal (max pairwise cosine ≈ 0.51), so the
# registered threshold sits below that to keep the oracle check
# exercising non-empty output.
EMBED_DUP_COSINE = 0.4

#: Regime gate for dedup_embedding_cosine: below this estimated
#: DENSE-MATRIX BYTE size (n_vecs × dim × 8 B float64, estimated as
#: 2× the embedding column's uncompressed float32 footer bytes) the
#: corpus is collected once and broadcast as a dense block — bounded
#: and explicit, like JACCARD_LOCAL_*. Priced in bytes, not rows: a
#: row-count gate silently scales with embedding width (2 M × dim-768
#: × 8 B would be 12 GiB on the driver; ADVICE/VERDICT r4). Above it
#: NOTHING is collected: the block-grid path replicates each vector
#: to its B block-pairs and computes each (block_i × block_j) tile as
#: one Arrow-batched matmul.
EMBED_LOCAL_MAX_BYTES = 1 << 30  # 1 GiB broadcast block
#: Target rows per block in the block-grid path (a tile is two blocks
#: in one task's memory: 2 × 500k × 64 × 8 B ≈ 0.5 GB).
EMBED_BLOCK_ROWS = 500_000


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({VX.cosine_sql("a.embedding", "b.embedding")}, 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {VX.cosine_sql("a.embedding", "b.embedding")} >= {EMBED_DUP_COSINE}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs: cosine ≥ threshold over
    all vector pairs — the semantic-dedup primitive for training-data
    curation. Exact (recall=1.0).

    Two regimes, gated on the corpus's estimated dense float64 byte
    size from footer metadata — no count() job, and priced in BYTES
    so embedding width is part of the cost (EMBED_LOCAL_MAX_BYTES) —
    both yielding identical pairs:

    * **broadcast** (corpus ≤ gate): collect once, broadcast the
      normalized dense block, scan the corpus with mapInPandas and
      compute each Arrow batch's similarities in a single matmul — a
      self-join that materializes 2 M array pairs (measured 20-75 s at
      sf0.1) becomes one distributed pass (~1 s).
    * **block-grid** (above the gate — NO driver collect anywhere):
      assign each vector a block (vec_id mod B), replicate each row to
      every block-pair it participates in, and compute each
      (block_i × block_j) tile as one matmul inside applyInPandas.
      Exact, bounded task memory (two blocks), shuffle volume
      n_vecs × B rows — the practical prescreen at extreme scale is
      ann_lsh_bucketed candidates + exact rescore, which trades only
      cross-bucket borderline pairs.

    Numeric honesty: accumulation is float64 BLAS (normalize-then-
    matmul), a DIFFERENT op tree from the oracle's sequential
    dot/(‖a‖·‖b‖) fold — the two agree only to last-ulp level, not
    bit-for-bit, so (a) rounding is half-AWAY at 6 decimals to match
    the engines' convention, absorbing the ulp gap, and (b) a pair
    whose true cosine sits within ~1e-15 of the threshold could in
    principle land on different sides (measure-zero for real
    embedding data; the Spark-side VX.cosine queries replicate the
    fold exactly and carry no such gap).
    """
    import numpy as np
    import pandas as pd

    emb = _embs(spark, sf_dir)
    threshold = EMBED_DUP_COSINE
    n_vecs = table_rowcount(sf_dir, "embeddings")  # footer metadata, no job
    # float32 column bytes → float64 dense matrix ≈ 2×. Offsets/defs
    # in the leaf chunks only pad the estimate (conservative).
    dense_bytes = 2 * table_column_bytes(sf_dir, "embeddings", "embedding")

    if dense_bytes <= EMBED_LOCAL_MAX_BYTES:
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r.vec_id for r in rows], dtype=np.int64)
        M = np.array([r.embedding for r in rows], dtype=np.float64)
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        bc = spark.sparkContext.broadcast((ids, M))

        def block_pairs(batches):
            b_ids, b_m = bc.value
            for pdf in batches:
                a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                A = np.array(list(pdf["embedding"]), dtype=np.float64)
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                S = A @ b_m.T
                # upper triangle only (vec_a < vec_b) + threshold
                mask = (S >= threshold) & (a_ids[:, None] < b_ids[None, :])
                ai, bj = np.nonzero(mask)
                yield pd.DataFrame(
                    {
                        "vec_a": a_ids[ai],
                        "vec_b": b_ids[bj],
                        # Half-AWAY (floor(x·10⁶+0.5); cosine ≥ threshold > 0) to
                        # match DuckDB round / Spark HALF_UP, not np half-even.
                        "cosine": np.floor(S[ai, bj] * 1e6 + 0.5) / 1e6,
                    }
                )

        return emb.select("vec_id", "embedding").mapInPandas(
            block_pairs, "vec_a long, vec_b long, cosine double"
        )

    n_blocks = max(2, -(-n_vecs // EMBED_BLOCK_ROWS))  # ceil div
    # pmod, not %: Spark's % keeps the dividend's sign, so a negative
    # vec_id would land in a negative block whose (bi,bj) keys match
    # no partner tile — its pairs would silently vanish (ADVICE r2).
    blocked = emb.select(
        "vec_id", "embedding", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int").alias("blk")
    )
    # Replicate each row to its block-pairs: for block k the keys are
    # {(min(k,j), max(k,j)) : j in 0..B-1} — every tile of the upper
    # block triangle receives exactly the rows of its two blocks.
    keys = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("bi"),
                F.greatest(F.col("blk"), F.lit(j)).alias("bj"),
            )
            for j in range(n_blocks)
        ]
    )
    replicated = blocked.select(
        "vec_id", "embedding", "blk", F.explode(F.array_distinct(keys)).alias("k")
    ).select("vec_id", "embedding", "blk", "k.bi", "k.bj")

    def tile(key, pdf):
        bi, bj = key
        a = pdf[pdf["blk"] == bi]
        b = pdf[pdf["blk"] == bj]
        a_ids = a["vec_id"].to_numpy(dtype=np.int64)
        b_ids = b["vec_id"].to_numpy(dtype=np.int64)
        A = np.array(list(a["embedding"]), dtype=np.float64)
        Bm = np.array(list(b["embedding"]), dtype=np.float64)
        if len(a_ids) == 0 or len(b_ids) == 0:
            return pd.DataFrame(
                {
                    "vec_a": np.array([], dtype=np.int64),
                    "vec_b": np.array([], dtype=np.int64),
                    "cosine": np.array([], dtype=np.float64),
                }
            )
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
        S = A @ Bm.T
        if bi == bj:
            # same block on both sides: S holds each unordered pair
            # twice — keep the upper triangle.
            mask = (S >= threshold) & (a_ids[:, None] < b_ids[None, :])
            ai, bj_ = np.nonzero(mask)
            va, vb = a_ids[ai], b_ids[bj_]
        else:
            # disjoint blocks: each unordered cross pair appears once,
            # but ids interleave across blocks — canonicalize to
            # (min, max), don't filter on side order.
            ai, bj_ = np.nonzero(S >= threshold)
            va = np.minimum(a_ids[ai], b_ids[bj_])
            vb = np.maximum(a_ids[ai], b_ids[bj_])
        return pd.DataFrame(
            {
                "vec_a": va,
                "vec_b": vb,
                # Half-AWAY rounding — see block_pairs note.
                "cosine": np.floor(S[ai, bj_] * 1e6 + 0.5) / 1e6,
            }
        )

    return replicated.groupBy("bi", "bj").applyInPandas(
        tile, "vec_a long, vec_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# Language identification (n-gram / marker-word heuristic)
# ---------------------------------------------------------------------------

#: Marker-word lists per language — the classic cheap lang-id signal
#: (stopwords are the highest-frequency, most language-specific
#: tokens). Deterministic and tiny so the scorer is pure codegen.
LANG_MARKERS = {
    "en": ("the", "and", "of", "a", "is"),
    "de": ("der", "und", "die", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "y", "las", "es"),
}


@query(
    "text_lang_id_ngram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TX.TOKENS_SQL.format(c="text")} AS t FROM documents
    ),
    scored AS (
        SELECT doc_id,
               {", ".join(f"len(list_filter(t, s -> s IN ({', '.join(repr(w) for w in ws)}))) AS s_{lang}" for lang, ws in LANG_MARKERS.items())}
        FROM toks
    )
    SELECT doc_id, s_en, s_de, s_fr, s_es,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM scored
    """,
)
def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via marker-word (stopword n-gram)
    scoring: per-language marker counts, argmax with a fixed
    en>de>fr>es tie-break so the prediction is deterministic.

    The synthetic corpus draws every document from one shared
    vocabulary, so predictions skew 'en' regardless of the stored
    `lang` label — the oracle checks the scoring mechanics, not label
    recovery. Scale: single narrow pass; the marker lists live in the
    codegen'd expression, no lookup join.
    """
    docs = _docs(spark, sf_dir)
    t = TX.tokens("text")

    def marker_score(ws: tuple[str, ...]) -> F.Column:
        # NB: the filter lambda must stay single-parameter — PySpark
        # treats a two-arg lambda as (element, index).
        arr = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter(t, lambda s: F.array_contains(arr, s)))

    score_cols = {lang: marker_score(ws) for lang, ws in LANG_MARKERS.items()}
    scored = docs.select(
        "doc_id", *[c.alias(f"s_{lang}") for lang, c in score_cols.items()]
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es")),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_es")), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
    )
    return scored.select("doc_id", "s_en", "s_de", "s_fr", "s_es", pred.alias("predicted_lang"))


# ---------------------------------------------------------------------------
# Index-staging memo — train once per (application, corpus)
# ---------------------------------------------------------------------------

# The memo lives in plans.staging (r13: the pattern outgrew this
# module — mining.py's basket/pair-count graph stages share it).
# Re-exported here because this module's stages and the tests address
# it as llmdata._INDEX_MEMO / llmdata.clear_index_memo; _INDEX_MEMO
# is THE one shared dict object, not a copy.
from bigdata_riveranalysis_spark.plans.staging import (  # noqa: E402
    _INDEX_MEMO,
    clear_index_memo,
    stage as _index_stage,
)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — centroid-partitioned similarity search
# ---------------------------------------------------------------------------


def _ivf_cent_arr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF coarse quantizer as ONE row holding array<struct<cell,c>>
    of per-label dim-wise-mean centroids, localCheckpointed so the
    index-build chain (a full corpus scan at production scale — it IS
    the persisted IVF index) runs once however many query branches
    reuse it.

    Agg-only chain → no split-spread (the groupBy shuffle provides
    parallelism, embedding_centroids rationale); (label, dim) keys
    spread the reduce side. Memoized per (application, corpus) since
    r13: every IVF consumer (cell assignment, probe lists, the IVF×PQ
    composition) reads the one trained quantizer row.
    """
    return _index_stage(
        spark, sf_dir, "ivf_cent_arr", lambda: _ivf_cent_arr_build(spark, sf_dir)
    )


def _ivf_cent_arr_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "embeddings")
    dims = _label_dim_means(base)
    cents = (
        dims.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s["mu"]
            ).alias("c")
        )
        .select(F.col("label").alias("cell"), "c")
    )
    return cents.agg(F.collect_list(F.struct("cell", "c")).alias("cents"))


def _ivf_cell_structs() -> F.Column:
    """array<struct<ncc, cell>> of (−cosine, cell) per centroid — the
    row-local cell scoring; ascending struct order == the oracle's
    (cc DESC, cell ASC) tie-break."""
    return F.transform(
        "cents",
        lambda cc: F.struct(
            (-VX.cosine(F.col("embedding"), cc["c"])).alias("ncc"),
            cc["cell"].alias("cell"),
        ),
    )


def _ivf_assign(vecs: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, entirely map-side: broadcast the
    one-row centroid array, score all k cells inside one transform,
    argmin the (−cos, cell) structs — ZERO Exchange (the window-argmax
    formulation this replaced shuffled + sorted n×k scored rows)."""
    best = F.array_min(_ivf_cell_structs())
    return vecs.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id", "embedding", best["cell"].alias("cell")
    )


def _ivf_probe(vecs: DataFrame, cent_arr: DataFrame, nprobe: int) -> DataFrame:
    """Top-``nprobe`` cells per query vector (probe_rank 1-based):
    sort the same (−cos, cell) structs row-locally and explode the
    first ``nprobe`` — still zero Exchange."""
    probes = F.slice(F.array_sort(_ivf_cell_structs()), 1, nprobe)
    return (
        vecs.crossJoin(F.broadcast(cent_arr))
        .select("vec_id", "embedding", F.posexplode(probes).alias("pos", "p"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("p.cell").alias("cell"),
            (F.col("pos") + 1).alias("probe_rank"),
        )
    )


def _ivf_oracle_ctes(nprobe: int, nquery: int) -> str:
    """The IVF coarse-quantizer pipeline as oracle CTE text — ONE
    definition for every IVF oracle (ann_ivf_cells, the retired
    ann_ivf_recall_nprobe2, ann_ivf_pq; review r11: the same SQL
    existed three times and a tie-break fix to one copy would desync
    the others' cell assignments): per-label dim-mean centroids,
    cosine cell assignment for the corpus (``assign``: vec_id,
    embedding, cell), and the top-``nprobe`` probe list for the
    ``nquery`` query vectors (``qprobe``: qid, qe, cell)."""
    return f"""ex AS (
        SELECT label, u.dim - 1 AS dim, u.v
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS v,
                             generate_subscripts(embedding, 1) AS dim) u
    ),
    cents AS (
        SELECT label AS cell, list(mu ORDER BY dim) AS c
        FROM (SELECT label, dim, avg(CAST(v AS DOUBLE)) AS mu
              FROM ex GROUP BY label, dim)
        GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, c.cell,
               {VX.cosine_sql("e.embedding", "c.c")} AS cc
        FROM embeddings e CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, embedding, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cc DESC, cell) AS rn
              FROM scored)
        WHERE rn = 1
    ),
    qprobe AS (
        SELECT vec_id AS qid, embedding AS qe, cell
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cc DESC, cell) AS rn
              FROM scored WHERE vec_id < {nquery})
        WHERE rn <= {nprobe}
    )"""


@query(
    "ann_ivf_cells",
    oracle=f"""
    WITH {_ivf_oracle_ctes(1, 10)},
    pairs AS (
        SELECT q.qid, a.vec_id AS nid, q.cell,
               {VX.cosine_sql("q.qe", "a.embedding")} AS cos
        FROM qprobe q JOIN assign a ON q.cell = a.cell AND a.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid AS query_id, nid AS neighbor_id, cell, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
        FROM pairs
    )
    SELECT query_id, neighbor_id, cell, {EX.round_pz_sql("cos", 6)} AS cosine, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions the corpus into
    cells; queries search only their nearest cell (nprobe=1).

    The quantizer is one k-means-style assignment step seeded by the
    label groups: centroids are per-label dim-wise means (the
    embedding_centroids computation, kept as arrays), and every
    vector — including the queries — is assigned to its
    nearest-by-cosine centroid, NOT its label, so the cell structure
    is genuinely data-derived and deterministic (ties break on cell
    id), which is what lets the SQL oracle reproduce the assignment.
    (Honesty caveat: the centroid means are order-dependent doubles —
    see _label_dim_means — so a vector whose two nearest cosines tie
    within an ulp could in principle assign differently per engine;
    measure-zero for real embeddings, same stance as the BLAS note.)

    Scale: the centroid table is k rows, carried as ONE row holding
    an array<struct<cell,c>> and broadcast; assignment is a per-row
    array_min over the k cosines — entirely map-side, ZERO Exchange
    (the r3/r4 window-argmax formulation shuffled + sorted n×k scored
    rows twice; r4 plan audit: 11 Exchanges → 6). array_min over
    struct(-cos, cell) is the oracle's (cc DESC, cell ASC) tie-break.
    The centroid chain is localCheckpointed (k rows) so the index
    build runs ONCE instead of once per branch — at 100 TB that chain
    is a full corpus scan, and it IS the persisted IVF index in
    production. The search join shuffles on cell, the IVF invariant:
    each query compares against ~n/k candidates instead of n.
    Recall < 1 by design at cell borders; ann_ivf_recall_nprobe2
    measures it against exact KNN instead of implying it.
    """
    emb = _embs(spark, sf_dir)
    cent_arr = _ivf_cent_arr(spark, sf_dir)
    # Candidate side: the full corpus assignment. Query side: the SAME
    # assignment over emb.filter(vec_id < 10) — the predicate pushes
    # into the parquet scan, so the query branch quantizes 10 vectors,
    # not the corpus (query batches against the persisted index at
    # production scale, exactly this shape).
    assign = _ivf_assign(emb, cent_arr)
    q = _ivf_assign(emb.filter(F.col("vec_id") < 10), cent_arr).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "cell"
    )
    pairs = assign.join(F.broadcast(q), ["cell"]).filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        VX.cosine(F.col("qe"), F.col("embedding")).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "cell",
            # signed-zero normalization (EX.round_pz docstring)
            EX.round_pz(F.col("cos"), 6).alias("cosine"),
            "rnk",
        )
    )


@retired_query(
    # RETIRED r11: subsumed by ann_ivf_pq_recall — the same recall
    # harness (nprobe=2 _ivf_probe, broadcast exact-KNN baseline,
    # hits accounting) audits the COMPOSED IVF×PQ serving path, a
    # strict superset of the IVF-only machinery this query exercises.
    "ann_ivf_recall_nprobe2",
    oracle=f"""
    WITH {_ivf_oracle_ctes(2, 10)},
    ivf_pairs AS (
        SELECT q.qid, a.vec_id AS nid,
               {VX.cosine_sql("q.qe", "a.embedding")} AS cos
        FROM qprobe q JOIN assign a ON q.cell = a.cell AND a.vec_id <> q.qid
    ),
    ivf3 AS (
        SELECT qid, nid
        FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                                                  ORDER BY cos DESC, nid) AS rnk
              FROM ivf_pairs)
        WHERE rnk <= 3
    ),
    exact_pairs AS (
        SELECT q.vec_id AS qid, a.vec_id AS nid,
               {VX.cosine_sql("q.embedding", "a.embedding")} AS cos
        FROM embeddings q JOIN embeddings a
          ON q.vec_id < 10 AND a.vec_id <> q.vec_id
    ),
    exact3 AS (
        SELECT qid, nid
        FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                                                  ORDER BY cos DESC, nid) AS rnk
              FROM exact_pairs)
        WHERE rnk <= 3
    ),
    hits AS (
        SELECT i.qid, count(*) AS n_hits
        FROM ivf3 i JOIN exact3 e ON i.qid = e.qid AND i.nid = e.nid
        GROUP BY i.qid
    )
    SELECT q.qid AS query_id,
           CAST(2 AS INTEGER) AS n_probed_cells,
           coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
           round(coalesce(h.n_hits, 0) / 3.0, 6) AS recall_at_3
    FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits h ON q.qid = h.qid
    """,
)
def ann_ivf_recall_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall accounting: search the top-2 cells per query
    (nprobe=2) and report recall@3 against the EXACT cosine top-3 —
    the ANN story states its recall instead of implying it.

    Scale: the IVF side reuses the map-side quantizer (_ivf_assign /
    _ivf_probe, zero-Exchange assignment) and the cell-join invariant
    (~nprobe·n/k candidates per query). The exact side is the
    evaluation harness, not the serving path: it brute-forces only
    the 10-query SAMPLE against the corpus (broadcast queries, one
    map-side pass + a top-k shuffle of sample×corpus scores) — the
    standard way recall is audited at 100 TB, where exact search over
    the full query log would be the thing ANN exists to avoid.

    On the synthetic near-orthogonal test embeddings (max pairwise
    cosine ≈ 0.5) the label-seeded cells are weakly informative, so
    measured recall@3 sits around 0.3-0.7 — which is exactly the
    point: the query AUDITS the recall/cost trade instead of
    asserting it, and on clustered production embeddings the same
    measurement governs the nprobe choice.
    """
    emb = _embs(spark, sf_dir)
    cent_arr = _ivf_cent_arr(spark, sf_dir)
    qvecs = emb.filter(F.col("vec_id") < 10)

    assign = _ivf_assign(emb, cent_arr)
    qprobe = _ivf_probe(qvecs, cent_arr, nprobe=2)
    ivf_pairs = (
        assign.join(F.broadcast(qprobe), ["cell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            VX.cosine(F.col("qe"), F.col("embedding")).alias("cos"),
        )
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    ivf3 = (
        ivf_pairs.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id")
    )
    exact_pairs = (
        emb.crossJoin(
            F.broadcast(
                qvecs.select(
                    F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
                )
            )
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            VX.cosine(F.col("qe"), F.col("embedding")).alias("cos"),
        )
    )
    exact3 = (
        exact_pairs.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id")
    )
    # sample×k rows on both sides — broadcast, never a sort-merge.
    hits = ivf3.join(F.broadcast(exact3), ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").alias("n_hits"))
    return (
        qvecs.select(F.col("vec_id").alias("query_id"))
        .join(F.broadcast(hits), ["query_id"], "left")
        .select(
            "query_id",
            F.lit(2).cast("int").alias("n_probed_cells"),
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 3.0, 6).alias("recall_at_3"),
        )
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (
        SELECT doc_id, text, strlen(text) AS L,
               unnest(range(0, CAST(ceil(strlen(text) / 128.0) AS BIGINT))) AS frame_no
        FROM documents
    )
    SELECT doc_id,
           CAST(frame_no AS INTEGER) AS frame_no,
           CAST(least(64, L - frame_no * 128) AS INTEGER) AS frame_len,
           ascii(substr(text, CAST(frame_no * 128 + 1 AS INTEGER), 1)) AS frame_first_byte
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: 1→N fan-out via
    mapInPandas (operators/multimodal.py::sample_frames). The sampler
    is a deterministic byte-stride stub (no media libs in the
    container), which is exactly what lets the oracle re-derive every
    frame's length and first byte from the source text (ASCII corpus:
    byte offsets == char offsets). The binary frame column itself is
    dropped for the comparison — DuckDB hashes BLOBs differently —
    but is exercised by the Spark job.
    """
    from bigdata_riveranalysis_spark.operators.multimodal import (
        attach_payload,
        sample_frames,
    )

    docs = _docs(spark, sf_dir)
    return sample_frames(attach_payload(docs)).select(
        "doc_id", "frame_no", "frame_len", "frame_first_byte"
    )


# ---------------------------------------------------------------------------
# Corpus-level n-gram statistics
# ---------------------------------------------------------------------------

#: Top-k cutoff for corpus n-gram reports.
NGRAM_TOPK = 20


@query(
    "ngram_topk_corpus",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TX.TOKENS_SQL.format(c="text")} AS t FROM documents
    ),
    g AS (
        SELECT doc_id, unnest(list_distinct({TX.word_shingles_sql("t", 2)})) AS gram
        FROM toks WHERE len(t) >= 2
    )
    SELECT gram, count(*) AS doc_freq
    FROM g GROUP BY gram
    ORDER BY doc_freq DESC, gram LIMIT {NGRAM_TOPK}
    """,
)
def ngram_topk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-{NGRAM_TOPK} word bigrams by DOCUMENT frequency —
    the boilerplate detector: phrases that appear in a large fraction
    of documents are navigation chrome / license headers / templates,
    and their doc-frequency ranking is what seeds a boilerplate
    strip-list (and the df-cap used by dedup_ngram_jaccard's inverted
    index).

    Per-doc array_distinct BEFORE the explode keeps the counted unit
    document-frequency (and caps a pathological looping doc's
    contribution at 1). The aggregate partial-combines map-side, and
    the top-k is TakeOrderedAndProject — each task keeps {NGRAM_TOPK}
    rows, the driver merges task heads; no global sort at any scale.
    Deterministic tie-break: (doc_freq DESC, gram ASC).
    """
    docs = _docs(spark, sf_dir)
    t = TX.tokens("text")
    grams = (
        docs.select("doc_id", t.alias("t"))
        .filter(F.size("t") >= 2)
        .select(explode_nonempty(F.array_distinct(TX.word_shingles(F.col("t"), 2))).alias("gram"))
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "gram")
        .limit(NGRAM_TOPK)
    )


#: Histogram config for docs_length_histogram: NB equal-width buckets
#: over [0, HIST_HI); the last bucket absorbs the overflow tail.
HIST_NB = 10
HIST_HI = 600


@retired_query(
    # RETIRED r11: subsumed by dq_drift_report, which computes the
    # SAME integer-division length buckets over the same documents
    # table (corpus side) plus the batch-vs-corpus drift witness —
    # the standalone histogram adds no verified surface.
    "docs_length_histogram",
    oracle=f"""
    SELECT least({HIST_NB - 1}, n_chars * {HIST_NB} // {HIST_HI}) AS bucket,
           count(*)     AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY 1
    """,
)
def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of document lengths — the distribution
    profile that picks the funnel's length thresholds (and the shape
    check after every corpus refresh). {HIST_NB} buckets of
    {HIST_HI // HIST_NB} chars over [0, {HIST_HI}); the top bucket
    absorbs the tail, so no row is dropped.

    Bucketing is INTEGER division (Spark `div` ≡ DuckDB `//`) — no
    float edge where a boundary-length doc lands in different buckets
    per engine (the width_bucket-style float formulation has exactly
    that hazard at representable boundaries). Single scan, map-side
    partial aggregation to ≤{HIST_NB} rows per task: histogramming is
    the cheapest possible profile at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.least(
        F.lit(HIST_NB - 1), F.expr(f"n_chars * {HIST_NB} div {HIST_HI}")
    )
    return docs.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@retired_query(
    # RETIRED r11: its oracle is textually embedded (_quant_oracle)
    # in every PQ / k-means oracle, so each of those driver rows
    # re-verifies the SQ8 quantization end-to-end; the standalone
    # dump adds no verified surface beyond its registered consumers.
    "embedding_quantize_int8",
    oracle="""
    WITH ex AS (
        SELECT u.dim AS dim, u.v
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS v,
                             generate_subscripts(embedding, 1) AS dim) u
    ),
    d AS (
        SELECT dim, CAST(min(v) AS DOUBLE) AS mn, CAST(max(v) AS DOUBLE) AS mx
        FROM ex GROUP BY dim
    ),
    s AS (
        SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM d
    )
    SELECT vec_id,
           CAST(u.dim - 1 AS INTEGER) AS dim,
           CASE WHEN s.mxs[u.dim] = s.mns[u.dim] THEN 0
                ELSE least(255, CAST(floor(
                    (CAST(u.v AS DOUBLE) - s.mns[u.dim])
                    / (s.mxs[u.dim] - s.mns[u.dim]) * 256) AS BIGINT))
           END AS code
    FROM embeddings,
         s,
         LATERAL (SELECT unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim) u
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (SQ8) quantization: per-dimension min/max calibration
    over the corpus, then each float32 component encoded as an 8-bit
    bucket — the 4× memory cut that lets an ANN index hold 4× the
    vectors per executor (the standard IVF+SQ8 layout; recall cost is
    measured by the same harness as ann_ivf_recall_nprobe2).

    Determinism: min/max of floats are exact element picks (no sum
    drift), every arithmetic step is explicitly CAST to double so
    both engines evaluate the identical op tree on identical bits,
    and floor() of that identical double cannot diverge — so codes
    are integer-exact across engines with no rounding tolerance
    needed. Degenerate constant dimensions (max = min) encode 0.

    Output shape is EXPLODED (vec_id, dim, code) rows — scalar
    columns only — because the driver's pandas-based canonicalizer
    cannot hash array cells (the r5 `array<long>` shape died with
    `unhashable type: 'list'` before comparison; VERDICT r5 #1).
    Row count is n_vectors × n_dims, still trivially aggregate-sized
    relative to the corpus, and the codes-as-rows layout is also the
    columnar layout an SQ8 index shard actually stores.

    Scale: calibration is posexplode → (dim) partial-agged min/max —
    a 64-row result from any corpus size; the code pass is one
    map-side transform against the broadcast calibration arrays (no
    shuffle of vectors, no Python). The top code is clamped (x = max
    → 255) so the range is exactly [0, 255].
    """
    return (
        _sq8_codes_array(spark, sf_dir)
        .select("vec_id", F.posexplode("xs").alias("dim", "code"))
    )


def _sq8_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE row (mns, mxs): the per-dimension min/max calibration
    arrays — a 64-value result from any corpus size, broadcast into
    the code pass."""
    emb = _embs(spark, sf_dir)
    ex = emb.select(F.posexplode("embedding").alias("dim", "v"))
    d = ex.groupBy("dim").agg(
        F.min("v").cast("double").alias("mn"), F.max("v").cast("double").alias("mx")
    )
    return d.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s.mn
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))), lambda s: s.mx
        ).alias("mxs"),
    )


def _sq8_code(x, i):
    """The SQ8 bucket arithmetic — ONE definition for the exploded
    query output and the array form (drift here would silently
    desync every PQ/k-means consumer from the registered oracle)."""
    mn = F.element_at("mns", i + 1)
    mx = F.element_at("mxs", i + 1)
    q = F.floor((x.cast("double") - mn) / (mx - mn) * 256).cast("long")
    return F.when(mx == mn, F.lit(0).cast("long")).otherwise(F.least(F.lit(255), q))


def _sq8_codes_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, xs): the full d-dim SQ8 code vector per embedding —
    the ZERO-SHUFFLE array form (r11). Every PQ/k-means consumer used
    to take the registered EXPLODED output (n·d scalar rows, kept for
    the driver's pandas canonicalizer) and shuffle it straight back
    into arrays; at 20× the sf0.1 corpus that explode→regroup round
    trip dominated the whole PQ pipeline. Codes are now computed
    inside one transform against the broadcast calibration row and
    never leave array form: scan → broadcast join → map, no Exchange.
    The exploded query output is a posexplode OF this form, so both
    shapes share _sq8_code bit-for-bit."""
    emb = _embs(spark, sf_dir)
    return (
        emb.crossJoin(F.broadcast(_sq8_stats(spark, sf_dir)))
        .select("vec_id", F.transform("embedding", _sq8_code).alias("xs"))
    )


@query(
    "minhash_estimate_error",
    oracle=f"""
    WITH lsh AS ({_lsh_pairs_oracle()}),
    toks2 AS (
        SELECT doc_id, {TX.TOKENS_SQL.format(c="text")} AS t FROM documents
    ),
    shset AS (
        SELECT doc_id,
               list_distinct({TX.word_shingles_sql("t", MINHASH_SHINGLE_N)}) AS s
        FROM toks2 WHERE len(t) >= {MINHASH_SHINGLE_N}
    )
    SELECT p.doc_a, p.doc_b, p.est_jaccard,
           {EX.ratio_round4_sql("len(list_intersect(a.s, b.s))", "len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))", 0)}
               AS exact_jaccard,
           (abs(CAST(p.est_jaccard * {NUM_MINHASHES} AS BIGINT)
                    * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                - {NUM_MINHASHES} * len(list_intersect(a.s, b.s)))
            <= 2 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))))
               AS within_quarter
    FROM lsh p
    JOIN shset a ON a.doc_id = p.doc_a
    JOIN shset b ON b.doc_id = p.doc_b
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-accuracy audit for the MinHash pipeline: every LSH
    candidate pair's signature-agreement estimate next to the TRUE
    shingle-set Jaccard, with an integer-exact within-0.25 witness —
    the same measured-accuracy discipline as ann_ivf_recall_nprobe2
    (state the estimator's error, don't imply it). 8-hash signatures
    have σ ≈ √(j(1−j)/8) ≤ 0.18, so |est − true| ≤ 0.25 holding on
    every pair is the expected regime, and a broken hash family or
    banding bug shows up as witness=false rows.

    The witness compares k/8 vs i/u by cross-multiplication
    (|k·u − 8·i| ≤ 2·u — all integers; est_jaccard·8 is exact because
    eighths are dyadic), so no float tolerance decides it. Exact
    Jaccard is computed ONLY on candidate pairs (LSH-sized, not n²);
    |∪| = |a|+|b|−|∩| avoids a second array op. Scale: the pair table
    is the small side — broadcast against the shingle sets; at 100 TB
    the shingle-set join reads the same signature-era corpus scan the
    LSH already priced.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    tok = TX.tokens("text")
    shset = (
        docs.select("doc_id", tok.alias("t"))
        .filter(F.size("t") >= MINHASH_SHINGLE_N)
        .select(
            "doc_id",
            F.array_distinct(TX.word_shingles(F.col("t"), MINHASH_SHINGLE_N)).alias("s"),
        )
    )
    a = shset.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = shset.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    uni = F.size("sa") + F.size("sb") - inter
    k = (F.col("est_jaccard") * NUM_MINHASHES).cast("long")
    # Both joins broadcast the PAIR-sized side: first the bare pair
    # table into the a-side shingle scan, then that (still pair-sized,
    # now carrying sa) result into the b-side scan — never the corpus.
    return (
        b.join(F.broadcast(a.join(F.broadcast(pairs), "doc_a")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            EX.ratio_round4(inter, uni, 0).alias("exact_jaccard"),
            (F.abs(k * uni - NUM_MINHASHES * inter) <= 2 * uni).alias("within_quarter"),
        )
    )


# ---------------------------------------------------------------------------
# BPE pair statistics + corpus-relative surprisal (r7)
# ---------------------------------------------------------------------------

#: Unrolled BPE merge rounds trained (the tokenizer-training loop).
BPE_MERGES = 4


def _bpe_pairs(t: DataFrame) -> DataFrame:
    """Adjacent-symbol pair occurrences of one BPE round, weighted by
    word frequency: split the space-joined symbol string, emit
    s[i] || ' ' || s[i+1] per position (overlaps counted, as BPE
    does) carrying the word's corpus count ``w``. Single-symbol words
    are filtered BEFORE the sequence() so it never sees a descending
    range."""
    return (
        t.select(F.split("t", " ").alias("s"), "w")
        .filter(F.size("s") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(s)-1),"
                    " i -> concat(element_at(s, i), ' ', element_at(s, i+1)))"
                )
            ).alias("pair"),
            "w",
        )
    )


def _bpe_winner(t: DataFrame) -> DataFrame:
    """The round's merge: the (count DESC, pair ASC) argmax pair —
    ONE row, localCheckpointed because two branches consume it (the
    merge-table output and the next round's rewrite)."""
    return (
        _bpe_pairs(t)
        .groupBy("pair")
        .agg(F.sum("w").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(1)
        .localCheckpoint()
    )


def _bpe_apply(t: DataFrame, w: DataFrame) -> DataFrame:
    """Re-tokenize under the new merge with a SYMBOL-level greedy-left
    fold: split to symbols, then fold left appending each symbol —
    gluing it (no separator) exactly when the accumulator's LAST
    symbol equals the winner's left and the incoming symbol equals
    its right. Greedy non-overlap falls out structurally: a just-
    merged tail is left||right, which can never equal left again
    (right is nonempty), so 'a a a' under winner (a, a) becomes
    'aa a', never 'a aa' or 'aaa'. A raw string replace() of the
    space-joined pair is WRONG here — it can match ACROSS a symbol
    boundary (in 'b an an a' the winner (n, a) matches the trailing
    n of one 'an' plus the leading a of the next, fabricating a
    non-BPE merge; caught by the r11 self-review's simulation and
    pinned by test_r11_fixes' banana corpus)."""
    wr = w.select(
        F.expr("split_part(pair, ' ', 1)").alias("_l"),
        F.expr("split_part(pair, ' ', 2)").alias("_r"),
    )
    j = t.crossJoin(F.broadcast(wr)).withColumn("_s", F.split("t", " "))
    folded = F.aggregate(
        F.slice(F.col("_s"), F.lit(2), F.size("_s") - 1),
        F.element_at("_s", 1),
        lambda acc, x: F.when(
            ((acc == F.col("_l"))
             | acc.endswith(F.concat(F.lit(" "), F.col("_l"))))
            & (x == F.col("_r")),
            F.concat(acc, x),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )
    return j.select(folded.alias("t"), "w")


def _bpe_ctes(full_state: bool = False) -> tuple:
    """(parts, sels): the unrolled BPE_MERGES-round training loop as
    DuckDB CTEs — the graph_pagerank_3iter fixed-point discipline
    applied to tokenizer training (one CTE trio per round, textually
    unrolled so the oracles stay pure SQL). With ``full_state`` the
    LAST round's merge is also applied, yielding t{BPE_MERGES + 1} =
    the fully-trained symbol state (the encode oracle's input)."""
    tokens = TX.TOKENS_SQL.format(c="text")
    parts = [
        f"""wf AS (
        SELECT t, count(*) AS w
        FROM (SELECT unnest({tokens}) AS t FROM documents) u
        WHERE length(t) >= 2 GROUP BY t
    )""",
        """t1 AS (
        SELECT array_to_string(list_transform(range(1, length(t) + 1),
                   i -> substr(t, CAST(i AS INT), 1)), ' ') AS t, w
        FROM wf
    )""",
    ]
    sels = []
    for r in range(1, BPE_MERGES + 1):
        parts.append(f"""p{r} AS (
        SELECT unnest(list_transform(range(1, len(s)),
                   i -> s[i] || ' ' || s[i + 1])) AS pair, w
        FROM (SELECT string_split(t, ' ') AS s, w FROM t{r}) v
        WHERE len(s) >= 2
    )""")
        parts.append(f"""w{r} AS (
        SELECT pair, split_part(pair, ' ', 1) AS l,
               split_part(pair, ' ', 2) AS r, sum(w) AS n
        FROM p{r} GROUP BY pair ORDER BY n DESC, pair LIMIT 1
    )""")
        if r < BPE_MERGES or full_state:
            # symbol-level greedy-left fold (see _bpe_apply: a raw
            # string replace can merge ACROSS symbol boundaries)
            parts.append(f"""t{r + 1} AS (
        SELECT list_reduce(
                   string_split(t{r}.t, ' '),
                   (acc, x) -> CASE
                       WHEN (acc = w{r}.l OR ends_with(acc, ' ' || w{r}.l))
                            AND x = w{r}.r
                       THEN acc || x
                       ELSE acc || ' ' || x END
               ) AS t, w
        FROM t{r}, w{r}
    )""")
        sels.append(
            f"SELECT CAST({r} AS INTEGER) AS merge_round,"
            f" split_part(pair, ' ', 1) AS left_sym,"
            f" split_part(pair, ' ', 2) AS right_sym,"
            f" CAST(n AS BIGINT) AS n FROM w{r}"
        )
    return parts, sels


def _bpe_oracle() -> str:
    parts, sels = _bpe_ctes()
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(sels)


def _bpe_encode_oracle() -> str:
    """Encode the whole corpus under the trained merges: every word's
    token count is the symbol count of its fully-merged state row
    (word reconstructs as replace(t, ' ', '') — symbols concatenate
    back to the original characters), length-1 words encode as one
    token (they never train or merge), and per-source sums stay
    integer with the exact ratio identity for chars/token."""
    parts, _sels = _bpe_ctes(full_state=True)
    tokens = TX.TOKENS_SQL.format(c="text")
    parts.append(f"""occ AS (
        SELECT source, t
        FROM (SELECT source, unnest({tokens}) AS t FROM documents) u
        WHERE t <> ''
    )""")
    parts.append(f"""vocab AS (
        SELECT replace(t, ' ', '') AS t,
               len(string_split(t, ' ')) AS n_syms
        FROM t{BPE_MERGES + 1}
    )""")
    tail = f"""
    SELECT occ.source,
           count(*) AS n_words,
           CAST(sum(coalesce(v.n_syms, 1)) AS BIGINT) AS n_tokens,
           CAST(sum(length(occ.t)) AS BIGINT) AS n_chars,
           {EX.ratio_round4_sql("sum(length(occ.t))", "sum(coalesce(v.n_syms, 1))", 0)} AS chars_per_token
    FROM occ LEFT JOIN vocab v ON occ.t = v.t
    GROUP BY occ.source"""
    return "WITH " + ",\n    ".join(parts) + tail


def _bpe_train(spark: SparkSession, sf_dir: str):
    """(final_state, winners): the BPE_MERGES-round training loop —
    distinct-word frequency table in, per-round winner rows and the
    FULLY-merged symbol state out (every round's merge applied,
    including the last — bpe_pair_merges reads the winners,
    bpe_encode_stats reads the state).

    Memoized per (application, corpus): a tokenizer is trained once
    and then both consumers (the merge-table query and the corpus
    encoder) read the trained artifact — previously each re-ran the
    full multi-round loop. All memoized frames are vocabulary-sized
    materializations (the winners are 1-row frames). The loop
    produces state and winners JOINTLY, so one per-call build cache
    feeds every stage slot; each slot still goes through
    plans.staging.stage (lock, appId eviction, durable-mode routing),
    never a raw memo write."""
    built: dict = {}

    def _build_all() -> dict:
        if not built:
            t, winners = _bpe_train_build(spark, sf_dir)
            built["t"] = t
            built["winners"] = winners
        return built

    state = _index_stage(spark, sf_dir, "bpe_state", lambda: _build_all()["t"])
    winners = [
        _index_stage(
            spark,
            sf_dir,
            f"bpe_winner_{r}",
            lambda r=r: _build_all()["winners"][r - 1],
        )
        for r in range(1, BPE_MERGES + 1)
    ]
    return state, winners


def _bpe_train_build(spark: SparkSession, sf_dir: str):
    """One run of the training loop. Each round's state is
    localCheckpointed (pagerank iteration discipline), vocabulary-
    sized and cheap; the winner row arrives already checkpointed
    (_bpe_winner), so the memo stores the settled 1-row frames
    without re-materializing them."""
    docs = _docs(spark, sf_dir)
    tok = explode_nonempty(TX.tokens("text")).alias("t")
    t = (
        docs.select(tok)
        .filter(F.length("t") >= 2)
        .groupBy("t")
        .agg(F.count("*").alias("w"))
        .select(
            F.array_join(
                F.expr("transform(sequence(1, length(t)), i -> substring(t, i, 1))"),
                " ",
            ).alias("t"),
            "w",
        )
        .localCheckpoint()
    )
    winners = []
    for _r in range(1, BPE_MERGES + 1):
        w = _bpe_winner(t)
        winners.append(w)
        t = _bpe_apply(t, w).localCheckpoint()
    return t, winners


@query("bpe_pair_merges", oracle=_bpe_oracle())
def bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, BPE_MERGES unrolled merge rounds with
    corpus re-tokenization between rounds (r11; the r7 version
    reported only round 1's pair statistics): each round counts
    corpus-wide adjacent-symbol pairs (every occurrence, as BPE
    does), selects the (count DESC, pair ASC) argmax as the round's
    merge, rewrites the corpus under it, and repeats. Output is the
    merge TABLE — (merge_round, left_sym, right_sym, n) — the
    merges.txt artifact a BPE tokenizer ships; the space-separated
    pair encoding is that file's own notation (symbols are
    whitespace-free by construction of TX.tokens, so ' ' is a safe
    separator).

    Exactness: counts are integers, winner selection is a
    deterministic total order (string comparison is binary in both
    engines), and the rewrite is a symbol-level greedy-left fold
    (Spark aggregate / DuckDB list_reduce — see _bpe_apply for why a
    raw string replace() is subtly wrong) — so the engines walk
    bit-identical vocabularies through every round.

    Scale: training state is the DISTINCT-WORD frequency table (how
    real BPE trainers run — pair counts are word-count-weighted sums,
    identical to counting raw occurrences), so after the one
    tokenize+groupBy scan every round operates on a Zipf-bounded
    vocabulary (~50k rows at any corpus size), not the corpus: pair
    expansion is higher-order built-ins inside codegen, the weighted
    pair count shuffles on a tiny key space, and the winner is a
    1-row TakeOrderedAndProject broadcast into the next round's
    map-side rewrite. The per-round state is localCheckpointed (the
    pagerank iteration discipline), vocabulary-sized and cheap.
    """
    _state, winners = _bpe_train(spark, sf_dir)
    out = [
        w.select(
            F.lit(r).cast("int").alias("merge_round"),
            F.expr("split_part(pair, ' ', 1)").alias("left_sym"),
            F.expr("split_part(pair, ' ', 2)").alias("right_sym"),
            F.col("n").cast("long").alias("n"),
        )
        for r, w in enumerate(winners, start=1)
    ]
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


@query("bpe_encode_stats", oracle=_bpe_encode_oracle())
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the TRAINED BPE merges to the corpus — the operational
    payoff of bpe_pair_merges, and the token count that actually
    matters for an LLM pipeline (token_count_regex counts words;
    training-data budgeting counts TOKENIZER tokens): per source,
    word/token/char totals under the BPE_MERGES-round vocabulary and
    the exact chars-per-token compression ratio.

    A word's token count is the symbol count of its fully-merged
    state row; the state's key reconstructs as replace(t, ' ', '')
    since symbols concatenate back to exactly the original
    characters. Length-1 words never train or merge and encode as
    one token (the LEFT JOIN's coalesce covers exactly those —
    the vocabulary is built from this same corpus, so nothing else
    can miss).

    Scale: training is the shared _bpe_train loop (Zipf-bounded
    word-frequency state, see bpe_pair_merges); encoding joins the
    per-occurrence token stream to that vocabulary-sized table on
    the word key — the vocab side is an aggregate output small
    enough for AQE's broadcast gate at any corpus, and the output is
    one row per source.
    """
    state, _winners = _bpe_train(spark, sf_dir)
    vocab = state.select(
        F.expr("replace(t, ' ', '')").alias("t"),
        F.size(F.split("t", " ")).alias("n_syms"),
    )
    docs = _docs(spark, sf_dir)
    occ = docs.select("source", explode_nonempty(TX.tokens("text")).alias("t"))
    enc = occ.join(vocab, ["t"], "left")
    n_toks = F.sum(F.coalesce(F.col("n_syms"), F.lit(1)))
    return enc.groupBy("source").agg(
        F.count("*").alias("n_words"),
        n_toks.cast("long").alias("n_tokens"),
        F.sum(F.length("t")).cast("long").alias("n_chars"),
        EX.ratio_round4(F.sum(F.length("t")), n_toks, 0).alias("chars_per_token"),
    )


def _token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, c) — the corpus unigram frequency table, memoized per
    (application, corpus): doc_surprisal_proxy and vocab_coverage_topn
    each previously ran their own tokenize scan + token shuffle to
    build the identical relation. The vocab is Zipf-bounded (≪
    corpus), so the checkpoint is small; at 100 TB it is the persisted
    corpus-statistics artifact a curation run derives once."""
    return _index_stage(
        spark,
        sf_dir,
        "token_vocab",
        lambda: _docs(spark, sf_dir)
        .select(explode_nonempty(TX.tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c")),
    )


@query(
    "doc_surprisal_proxy",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({TX.TOKENS_SQL.format(c="text")}) AS t
        FROM documents
    ),
    vocab AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    n AS (SELECT count(*) AS total FROM toks),
    info AS (
        SELECT toks.doc_id,
               length(printf('%b', n.total // vocab.c)) - 1 AS bits
        FROM toks JOIN vocab USING (t) CROSS JOIN n
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(bits) AS BIGINT) AS total_bits,
           {EX.ratio_round4_sql("sum(bits)", "count(*)", 0)} AS avg_surprisal
    FROM info GROUP BY doc_id
    """,
)
def doc_surprisal_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram surprisal proxy — the data-selection
    signal behind perplexity filtering (rare-token-dense docs score
    high, boilerplate scores low), in INTEGER-EXACT form: a token's
    information is floor(log2(N div c)) computed as
    bit_length(N div c) − 1 (binary-string length — no libm log,
    whose last-ulp differences between engines flip rounded 4th
    decimals), averaged per doc via the exact ratio identity.

    Scale: one tokenize scan; the vocab aggregate shuffles on token;
    the token→info join shuffles the tokenized fact once on the same
    key (sort-merge, AQE-skew-splittable — stopword keys are hot);
    the single-row corpus total broadcasts. At 100 TB the vocab side
    is Zipf-bounded (≪ fact) and can itself broadcast below the
    byte gate.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", explode_nonempty(TX.tokens("text")).alias("t")
    )
    vocab = _token_vocab(spark, sf_dir)
    # corpus total = Σ vocab counts — a vocab-sized aggregate, NOT a
    # second tokenize scan of the corpus (r7 review: three consumers
    # of `toks` re-executed the dominant scan; the memoized vocab
    # stage now leaves the token→info join as the one corpus scan).
    total = vocab.agg(F.sum("c").alias("total"))
    info = (
        toks.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (F.length(F.bin(F.expr("total div c"))) - 1).alias("bits"),
        )
    )
    return info.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("bits").alias("total_bits"),
        EX.ratio_round4(F.sum("bits"), F.count("*"), 0).alias("avg_surprisal"),
    )


#: Tokens reported by the vocabulary-coverage profile.
VOCAB_TOPN = 50


@query(
    "vocab_coverage_topn",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({TX.TOKENS_SQL.format(c="text")}) AS t FROM documents
    ),
    vocab AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    ranked AS (
        SELECT t, c,
               row_number() OVER (ORDER BY c DESC, t) AS rnk,
               sum(c) OVER (ORDER BY c DESC, t
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER () AS total
        FROM vocab
    )
    SELECT t AS token, rnk, CAST(c AS BIGINT) AS n,
           {EX.ratio_round4_sql("100 * cum", "total", 0)} AS coverage_pct,
           (CAST(cum AS HUGEINT) * 10 >= 9 * total) AS covers_90
    FROM ranked
    WHERE rnk <= {VOCAB_TOPN}
    """,
)
def vocab_coverage_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage profile — the tokenizer-sizing question
    ("how many vocab entries cover 90% of the corpus?"): tokens
    ranked by frequency with cumulative corpus coverage and an exact
    covers-90 flag (integer cross-multiplication, no float share).

    Scale: the vocab aggregate shuffles once on token; the global
    frequency ranking + running sum come from ONE
    scale.two_level_prefix pass over the Zipf-bounded VOCAB relation
    (range-banded windows — no single-reducer ORDER BY even for
    billion-entry vocabularies), reusing the banded machinery of
    RFM/Pareto/equi-depth; the oracle runs the literal global window,
    proving the banded plan value-identical. Output is top-{VOCAB_TOPN}
    only, taken by rank filter (pushed before the join-back).
    """
    from bigdata_riveranalysis_spark.plans import scale as SC

    vocab = _token_vocab(spark, sf_dir)
    o = SC.two_level_prefix(vocab, [F.desc("c"), F.asc("t")], sum_cols=("c",))
    return (
        o.filter(F.col("_rk") <= VOCAB_TOPN)
        .select(
            F.col("t").alias("token"),
            F.col("_rk").alias("rnk"),
            F.col("c").alias("n"),
            EX.ratio_round4(F.col("_cum_c") * 100, F.col("_tot_c"), 0).alias(
                "coverage_pct"
            ),
            (F.col("_cum_c") * 10 >= F.col("_tot_c") * 9).alias("covers_90"),
        )
    )


#: Chunking geometry (tokens): window size and stride (overlap =
#: window − stride). Sized so the fixture docs produce multi-chunk
#: fan-out; production uses the model's context length.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 16


@query(
    "doc_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TX.TOKENS_SQL.format(c="text")} AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id, t,
               unnest(range(0,
                   CAST(ceil(greatest(len(t) - {CHUNK_TOKENS}, 0)
                             / {CHUNK_STRIDE}.0) AS BIGINT) + 1)) AS chunk_no
        FROM toks WHERE len(t) >= 1
    )
    SELECT doc_id,
           CAST(chunk_no AS BIGINT) AS chunk_no,
           CAST(len(list_slice(t, CAST(chunk_no * {CHUNK_STRIDE} + 1 AS INT),
                    CAST(chunk_no * {CHUNK_STRIDE} + {CHUNK_TOKENS} AS INT)))
                AS INT) AS n_tokens,
           array_to_string(
               list_slice(t, CAST(chunk_no * {CHUNK_STRIDE} + 1 AS INT),
                          CAST(chunk_no * {CHUNK_STRIDE} + {CHUNK_TOKENS} AS INT)),
               ' ') AS chunk_text
    FROM chunks
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the context-length
    segmentation every LLM training/retrieval pipeline runs: each doc
    fans out to overlapping 32-token windows at stride 16
    (CHUNK_TOKENS/CHUNK_STRIDE; overlap keeps boundary-spanning text
    learnable, the final partial window is kept). The 1→N fan-out
    companion of seq_pack_greedy (which packs; this splits).

    Scale: tokenize → sequence+explode+slice are ALL higher-order
    builtins (whole-stage codegen, zero Python); the fan-out is
    narrow — no shuffle at all, chunk rows stream straight to the
    consumer, so the operator is scan-bound at any corpus size and
    partition sizing is the only knob (same posture as
    multimodal frame sampling).
    """
    docs = _docs(spark, sf_dir)
    t = TX.tokens("text")
    base = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= 1)
    n_chunks = (
        F.ceil(F.greatest(F.size("t") - CHUNK_TOKENS, F.lit(0)) / CHUNK_STRIDE)
        + 1
    ).cast("int")
    return (
        base.select(
            "doc_id", "t", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("c")
        )
        .select(
            "doc_id",
            F.col("c").cast("long").alias("chunk_no"),
            F.size(
                F.slice("t", F.col("c") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
            ).alias("n_tokens"),
            F.concat_ws(
                " ", F.slice("t", F.col("c") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
            ).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Asymmetric containment dedup
# ---------------------------------------------------------------------------

#: C(A,B) = |A∩B| / min(|A|,|B|) threshold, as an integer percent so
#: the filter is an exact integer comparison in every regime and in
#: the oracle. The comparison coefficients are DERIVED from this one
#: constant (the Jaccard-threshold pattern): C ≥ pct/100 reduced to
#: lowest terms p/q gives q·common ≥ p·min — at 80 %, 5·common ≥
#: 4·min.
CONTAINMENT_THRESHOLD_PCT = 80
_CONT_P = CONTAINMENT_THRESHOLD_PCT // _math.gcd(CONTAINMENT_THRESHOLD_PCT, 100)
_CONT_Q = 100 // _math.gcd(CONTAINMENT_THRESHOLD_PCT, 100)
#: f32-exactness vocab cap for the fused containment tile test:
#: q·common ≤ q·nv and p·size ≤ p·nv must stay exact f32 integers
#: (< 2^24); q > p so q binds. At 80 % this is 2^24/5 = 3_355_443.
_CONTAINMENT_VOCAB_CAP = (1 << 24) // _CONT_Q


def _containment_local(spark: SparkSession, sh: DataFrame, df_cap: int) -> DataFrame | None:
    """Exact all-pairs containment in the small-corpus regime — the
    sibling of _jaccard_local: same shared dense setup
    (_dense_shingle_matrix), same preallocated-tile in-place sweep
    (the r8 Jaccard fix — per-tile temporaries, not the GEMM, were
    the measured 0.6→3.0 s variance source, and the first containment
    cut reintroduced them at ~5× the bytes; review finding r8). The
    fused threshold differs: containment tests against min(|A|,|B|),
    and min distributes over the comparison —

        q·c ≥ p·min(|A|,|B|)  ⟺  q·c ≥ p·|A|  OR  q·c ≥ p·|B|

    so the tile test is two in-place f32 compares OR-ed into reused
    bool buffers. Every scaled operand (q·common ≤ q·nv, p·size) is
    an exact f32 integer under the _CONTAINMENT_VOCAB_CAP gate; the
    min > 0 guard (both-empty pairs vacuously pass 0 ≥ 0) moves to
    the few survivors."""
    import numpy as np
    import pandas as pd

    out_schema = "doc_a long, doc_b long, n_common long, containment double"
    dense = _dense_shingle_matrix(sh, df_cap, _CONTAINMENT_VOCAB_CAP)
    if dense is None:
        return None
    ids, sizes, M = dense
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], out_schema)
    out_a, out_b, out_c, out_r = [], [], [], []
    psizes32 = sizes.astype(np.float32) * np.float32(_CONT_P)
    block = max(1, _JACCARD_SWEEP_CELLS // max(n, 1))
    nb = min(block, n)
    common = np.empty((nb, n), dtype=np.float32)
    cand = np.empty((nb, n), dtype=bool)
    cand2 = np.empty((nb, n), dtype=bool)
    for start in range(0, n, block):
        stop = min(start + block, n)
        cb = common[: stop - start]
        kb, k2 = cand[: stop - start], cand2[: stop - start]
        np.matmul(M[start:stop], M.T, out=cb)
        cb *= np.float32(_CONT_Q)
        np.greater_equal(cb, psizes32[None, :], out=kb)  # q·c ≥ p·|B|
        np.greater_equal(cb, psizes32[start:stop, None], out=k2)  # q·c ≥ p·|A|
        kb |= k2
        ai, bj = np.nonzero(kb)
        # each unordered pair once, oriented by doc_id VALUE —
        # matching the oracle's doc_a < doc_b (the _jaccard_local
        # convention; both orientations pass the symmetric test).
        keep = ids[start + ai] < ids[bj]
        ai, bj = ai[keep], bj[keep]
        sa, sb = sizes[start + ai], sizes[bj]
        mn = np.minimum(sa, sb)
        good = mn > 0
        ai, bj, mn = ai[good], bj[good], mn[good]
        # Exact survivor counts recovered FROM the tile buffer (the
        # jaccard twin's move — no einsum recompute): cb holds q·c,
        # an exact f32 integer ≤ q·nv < 2^24, and dividing by the
        # integer q is exact (the true quotient is a representable
        # integer, so correctly-rounded division returns it).
        com = (cb[ai, bj] / np.float32(_CONT_Q)).astype(np.int64)
        out_a.append(ids[start + ai])
        out_b.append(ids[bj])
        out_c.append(com)
        # the exact ratio_round4 identity (scale 0): identical
        # integers to the oracle's floor((2·10⁴·S + n)/(2n))/10⁴.
        out_r.append((20000 * com + mn) // (2 * mn) / 1e4)
    pout = pd.DataFrame(
        {
            "doc_a": np.concatenate(out_a),
            "doc_b": np.concatenate(out_b),
            "n_common": np.concatenate(out_c),
            "containment": np.concatenate(out_r),
        }
    )
    if pout.empty:
        return spark.createDataFrame([], out_schema)
    return spark.createDataFrame(pout, out_schema)


@query(
    "dedup_containment_ngram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TX.TOKENS_SQL.format(c="text")} AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, list_distinct({TX.word_shingles_sql("t", 2)}) AS s
        FROM toks WHERE len(t) >= 2
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    gdf AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
    kept AS (
        SELECT e.doc_id, e.g FROM ex e JOIN gdf ON e.g = gdf.g
        WHERE gdf.df <= {JACCARD_DF_CAP_SQL}
    ),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id)
    SELECT doc_a, doc_b, n_common,
           {EX.ratio_round4_sql("n_common", "least(sa.n, sb.n)", 0)} AS containment
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE {_CONT_Q} * n_common >= {_CONT_P} * least(sa.n, sb.n)
    """,
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: word-bigram CONTAINMENT
    C = |A∩B| / min(|A|,|B|) ≥ 0.8 — the Broder containment measure
    that catches what Jaccard structurally misses: a short document
    quoted or embedded inside a much longer one (J = |A∩B|/|A∪B| is
    crushed by the big set's size; C is not). The standard second
    pass of an LLM-corpus dedup stack (quote/subset leakage).

    The same stats-driven regime split as dedup_ngram_jaccard (gates
    priced from parquet footers, no job): local dense matmul below,
    inverted index above. One real difference, documented loudly: the
    Jaccard size-ratio prune is UNSOUND here — a 10-gram doc can be
    80 %-contained in a 10 000-gram doc, which is exactly the pair
    containment exists to find — so the distributed join has no size
    predicate and the df-cap (boilerplate grams dropped before
    sizing) is the sole hot-key defense. At 100 TB the shuffle key
    is still the shingle and pair aggregation only sees co-gram
    candidates; the threshold filter is the exact integer comparison
    q·common ≥ p·min (5·common ≥ 4·min at 80 %), with p/q derived
    from CONTAINMENT_THRESHOLD_PCT in both regimes and the oracle.
    """
    docs = _docs(spark, sf_dir)
    tok = TX.tokens("text")
    sh = (
        docs.select("doc_id", tok.alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.array_distinct(TX.word_shingles(F.col("t"), 2)).alias("s"))
    )
    n_docs = table_rowcount(sf_dir, "documents")
    text_bytes = table_column_bytes(sf_dir, "documents", "text")
    df_cap = _jaccard_df_cap(n_docs)
    if n_docs <= JACCARD_LOCAL_MAX_DOCS and text_bytes <= JACCARD_LOCAL_MAX_TEXT_BYTES:
        local = _containment_local(spark, sh, df_cap)
        if local is not None:
            return local
    ex0 = sh.select("doc_id", explode_nonempty("s").alias("g"))
    ex = (
        ex0.withColumn("df", F.count("*").over(W.partitionBy("g")))
        .filter(F.col("df") <= df_cap)
        .drop("df")
        .withColumn("n", F.count("*").over(W.partitionBy("doc_id")))
    )
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.first("a.n").alias("na"),
            F.first("b.n").alias("nb"),
        )
    )
    mn = F.least(F.col("na"), F.col("nb"))
    return (
        common.filter(F.lit(_CONT_Q) * F.col("n_common") >= F.lit(_CONT_P) * mn)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            EX.ratio_round4(F.col("n_common"), mn, 0).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Canonical keep-best selection over duplicate clusters
# ---------------------------------------------------------------------------


def _components_oracle() -> str:
    """The registered dedup_cluster_components oracle as a subquery —
    keep-best builds on the SAME cluster semantics, textually (the
    _lsh_pairs_oracle composition pattern)."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    return REGISTRY["dedup_cluster_components"].oracle


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH comp AS ({_components_oracle()}),
    q AS (
        SELECT comp.doc_id, comp.canonical_id, comp.component_size, d.n_chars
        FROM comp JOIN documents d ON comp.doc_id = d.doc_id
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY canonical_id ORDER BY n_chars DESC, doc_id
        ) AS rk FROM q
    )
    SELECT canonical_id AS cluster_id,
           doc_id       AS kept_doc_id,
           n_chars      AS kept_n_chars,
           component_size AS n_members,
           component_size - 1 AS n_dropped
    FROM r WHERE rk = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection — the curation step that
    turns a duplicate CLUSTERING into a deduplicated CORPUS: per
    near-dup cluster, keep exactly one document by an explicit,
    deterministic quality policy (longest text wins; doc_id breaks
    ties) and account for the drops. Every production dedup ends
    here — cluster labels alone don't say which copy survives, and an
    unstated tie-break makes the kept set irreproducible across runs.

    Composition: clusters come from dedup_cluster_components (LSH
    pairs → connected components) — called as a plain function, so
    the keep-best semantics stay in lockstep with the registered
    clustering in both engines (the oracle textually embeds the
    components oracle the same way).

    Scale: one broadcast-sized join of cluster rows against the doc
    quality column (cluster rows ≪ corpus — only actual duplicates
    appear), then a per-cluster window; partition key is the cluster
    id, so skew is bounded by the largest duplicate cluster — the
    same bound the components loop already carries.
    """
    comp = dedup_cluster_components(spark, sf_dir)
    quality = _docs(spark, sf_dir).select("doc_id", "n_chars")
    q = comp.join(quality, "doc_id")
    w = W.partitionBy("canonical_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        q.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("canonical_id").alias("cluster_id"),
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_n_chars"),
            F.col("component_size").alias("n_members"),
            (F.col("component_size") - 1).alias("n_dropped"),
        )
    )


@query(
    "dedup_pipeline_summary",
    oracle=f"""
    WITH comp AS ({_components_oracle()}),
    s AS (
        SELECT count(*) AS n_clustered_docs,
               count(DISTINCT canonical_id) AS n_clusters,
               CAST(coalesce(max(component_size), 0) AS BIGINT) AS max_cluster
        FROM comp
    ),
    d AS (SELECT count(*) AS n_docs FROM documents)
    SELECT d.n_docs,
           s.n_clustered_docs,
           s.n_clusters,
           s.n_clustered_docs - s.n_clusters AS n_dropped,
           d.n_docs - (s.n_clustered_docs - s.n_clusters) AS n_kept,
           s.max_cluster AS max_cluster_size,
           {EX.ratio_round4_sql("d.n_docs - (s.n_clustered_docs - s.n_clusters)", "d.n_docs", 0)}
               AS kept_ratio
    FROM d, s
    """,
)
def dedup_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup-pipeline acceptance report — the ONE-row
    accounting a training-data pipeline signs off on after running
    the whole near-dup stack (MinHash-LSH candidates → connected
    components → keep-one-per-cluster): corpus size in, how many docs
    sit in duplicate clusters, how many clusters, how many copies get
    dropped, the surviving corpus size, the largest cluster (the skew
    / pathological-template alarm), and the kept ratio. Registered as
    the composition query (VERDICT r12 #7): the per-stage queries
    verify each operator; THIS row is what the pipeline's run report
    actually contains, derived by invoking the stack exactly as a
    deployment does — one function call, one shared LSH+components
    materialization.

    Exactness: pure integer counts off the SAME components labeling
    the registered dedup_cluster_components produces (the oracle
    embeds that oracle textually); the kept ratio goes through the
    shared exact-rational half-up rounding, never a raw double
    divide.

    Scale: everything after the components stage is a constant-size
    aggregate — two single-row frames cross-joined. The heavy lifting
    (banded LSH, min-label propagation) is the already-audited
    components path; the summary adds one count over cluster rows
    (≪ corpus) and one over the corpus scan's row-group metadata.
    """
    comp = dedup_cluster_components(spark, sf_dir)
    s = comp.agg(
        F.count("*").alias("n_clustered_docs"),
        F.countDistinct("canonical_id").alias("n_clusters"),
        F.coalesce(F.max("component_size"), F.lit(0).cast("long")).alias(
            "max_cluster"
        ),
    )
    d = _docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    dropped = F.col("n_clustered_docs") - F.col("n_clusters")
    kept = F.col("n_docs") - dropped
    return d.crossJoin(s).select(
        "n_docs",
        "n_clustered_docs",
        "n_clusters",
        dropped.alias("n_dropped"),
        kept.alias("n_kept"),
        F.col("max_cluster").alias("max_cluster_size"),
        EX.ratio_round4(kept, F.col("n_docs"), 0).alias("kept_ratio"),
    )


# ---------------------------------------------------------------------------
# Integer-exact k-means over SQ8 codes
# ---------------------------------------------------------------------------

KMEANS_K = 8


def _kmeans_cents_row(cents: DataFrame) -> DataFrame:
    """ONE broadcastable row — the cid-sorted array of (cid, cs)
    centroid structs — from the long-format (cid, dim, cent) frame.
    k·d values total: the gate-free constant-size broadcast class."""
    arr = cents.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cent"))),
            lambda s: s["cent"],
        ).alias("cs")
    )
    return arr.agg(F.array_sort(F.collect_list(F.struct("cid", "cs"))).alias("cents"))


def _kmeans_assign(X: DataFrame, cents_row: DataFrame) -> DataFrame:
    """(vec_id, xs, cid, dist2): nearest centroid per vector by exact
    integer squared L2; ties break to the lowest cid via the
    lexicographic struct minimum — F.least over (dist2, cid) structs,
    identical to the oracle's ORDER BY dist2, cid.

    ZERO-shuffle: the k×d centroid table rides in as one broadcast
    row (BroadcastNestedLoopJoin against a 1-row frame) and the
    argmin over the k candidates runs INSIDE a higher-order aggregate
    per input row. Exactness: dist2 accumulates in LongType (codes
    are 0..255, so d·255² overflows nothing real); least() skips the
    null init and compares structs field-wise."""
    j = X.crossJoin(F.broadcast(cents_row))
    # ONE definition of the exactness-critical integer fold for both
    # k-means and PQ (review r9: two hand-maintained copies of the
    # long-accumulator zip_with drift apart like forked canons)
    best = F.aggregate(
        "cents",
        F.lit(None).cast("struct<dist2:bigint,cid:int>"),
        lambda m, ct: F.least(
            m, F.struct(_pq_d2(ct["cs"]).alias("dist2"), ct["cid"].alias("cid"))
        ),
    )
    return j.select("vec_id", "xs", best.alias("m")).select(
        "vec_id",
        "xs",
        F.col("m.cid").alias("cid"),
        F.col("m.dist2").alias("dist2"),
    )


def _kmeans_update(assign: DataFrame) -> DataFrame:
    """(cid, dim, cent): per-cluster integer-mean centroid —
    floor(Σcode / n) via integer `div`, exact in both engines (codes
    are nonnegative, so floor = truncation on both sides). The only
    shuffle per Lloyd iteration (n·d rows keyed by (cid, dim), k·d
    out); the assignment rides along in the same rows, so no
    codes↔assignment join exists at all."""
    m = assign.select("cid", F.posexplode("xs").alias("dim", "c"))
    return m.groupBy("cid", "dim").agg(F.expr("sum(c) div count(*)").alias("cent"))


def _quant_oracle() -> str:
    """The registered embedding_quantize_int8 oracle as a subquery —
    k-means clusters the SAME codes, textually."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY, RETIRED

    return (REGISTRY | RETIRED)["embedding_quantize_int8"].oracle


@query(
    "kmeans_int8_lloyd2",
    oracle=f"""
    WITH codes AS (
        SELECT vec_id, dim, code AS c FROM ({_quant_oracle()}) qz
    ),
    seed AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        FROM (SELECT DISTINCT vec_id FROM codes ORDER BY vec_id LIMIT {KMEANS_K}) s
    ),
    cents0 AS (
        SELECT seed.cid, codes.dim, codes.c AS cent
        FROM codes JOIN seed ON codes.vec_id = seed.vec_id
    ),
    d1 AS (
        SELECT codes.vec_id, cents0.cid,
               sum((codes.c - cents0.cent) * (codes.c - cents0.cent)) AS dist2
        FROM codes JOIN cents0 ON codes.dim = cents0.dim
        GROUP BY 1, 2
    ),
    a1 AS (
        SELECT vec_id, cid, dist2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist2, cid
            ) AS rk FROM d1
        ) WHERE rk = 1
    ),
    cents1 AS (
        SELECT a1.cid, codes.dim, sum(codes.c) // count(*) AS cent
        FROM codes JOIN a1 ON codes.vec_id = a1.vec_id
        GROUP BY 1, 2
    ),
    d2 AS (
        SELECT codes.vec_id, cents1.cid,
               sum((codes.c - cents1.cent) * (codes.c - cents1.cent)) AS dist2
        FROM codes JOIN cents1 ON codes.dim = cents1.dim
        GROUP BY 1, 2
    )
    SELECT vec_id, cid, CAST(dist2 AS BIGINT) AS dist2 FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist2, cid
        ) AS rk FROM d2
    ) WHERE rk = 1
    """,
)
def kmeans_int8_lloyd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k = KMEANS_K, 2 Lloyd iterations) over the SQ8
    quantization codes — INTEGER-EXACT clustering, the trick that
    makes an iterative ML algorithm oracle-hashable at all: distances
    are integer squared-L2 over 0-255 codes, centroid updates are
    integer floor-means, and the nearest-centroid argmin breaks ties
    on (dist2, cid) — so both engines walk bit-identical state
    through every iteration (the graph_pagerank_3iter fixed-point
    move, applied to embedding clustering). Float k-means cannot be
    cross-engine-hashed (accumulation-order drift in both the
    distances and the means); quantize-then-cluster is also the real
    pipeline shape — IVF coarse quantizers train on compressed codes
    precisely to keep memory linear.

    Composition: codes come from embedding_quantize_int8 (called as a
    plain function; the oracle embeds that query's registered SQL
    textually). Init is deterministic: the KMEANS_K smallest
    vec_ids seed the centroids.

    Scale (r8 array-form rewrite): the quantize output is reshaped
    ONCE into per-vector code arrays (n rows; one n·d shuffle) and
    localCheckpointed (on a cluster: one materialization to storage,
    the standard k-means staging table). Each assignment is then a
    ZERO-SHUFFLE map-side pass: the k×d centroid table rides in as
    one broadcast row and the (dist2, cid) argmin runs inside a
    higher-order aggregate — n·d·k integer work, embarrassingly
    parallel at any n (the first cut broadcast-joined the LONG format
    and paid two n·k-keyed shuffles per assignment). The one shuffle
    per Lloyd iteration is the centroid update (n·d rows → k·d).
    Empty clusters simply vanish (no rows aggregate) — acceptable for
    a fixed-k witness query; a production trainer would re-seed them.

    Output is the final assignment (vec_id, cid, dist2) — one row per
    vector, the strongest checkable granularity.

    r17 (VERDICT r16 #2, guide §2.2): the staging table is coalesced
    to a ROW-DERIVED partition count before the checkpoint —
    ceil(n_vecs / 512), never a cores number. The Lloyd chain reads X
    in every one of its ~8 AQE stages, and at bench SF the inherited
    cores-derived spread (32 partitions for 2,000 vectors) made each
    of those stages 32 tasks of ~60 rows: pure per-task overhead that
    GREW with core count (the measured 8-core/32-core ratio was 0.74
    — more cores, slower). coalesce is a narrow dependency (no
    exchange), and at real scale ceil(n/512) exceeds any scan's
    partition count long before 1 GB of codes, making it a no-op
    there. Measured (sf0.1, local[32], interleaved min-of-3):
    1.795 -> 1.313 s, assignments identical.
    """
    n_vecs = table_rowcount(sf_dir, "embeddings")
    X = (
        _sq8_codes_array(spark, sf_dir)
        .coalesce(max(1, -(-n_vecs // 512)))
        .localCheckpoint()
    )
    wseed = W.orderBy("vec_id")  # bounded input: k rows after limit
    seed = (
        X.orderBy("vec_id")
        .limit(KMEANS_K)
        .select(
            (F.row_number().over(wseed) - 1).alias("cid"),
            F.col("xs").alias("cs"),
        )
    )
    cents0 = seed.agg(F.array_sort(F.collect_list(F.struct("cid", "cs"))).alias("cents"))
    a1 = _kmeans_assign(X, cents0)
    cents1 = _kmeans_cents_row(_kmeans_update(a1))
    return _kmeans_assign(X, cents1).select("vec_id", "cid", "dist2")


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

#: PQ geometry: M subspaces of SUBDIM dims each over the 64-dim
#: embeddings; K centroids per subspace (codebook = M·K·SUBDIM ints),
#: trained with the same 2 deterministic integer Lloyd iterations as
#: kmeans_int8_lloyd2. Codes compress a vector to M small ints —
#: 64 f32 dims (256 B) → 4 codes (4 B), the 64× memory cut that makes
#: billion-vector search RAM-resident (IVF+PQ, the FAISS standard).
PQ_SUBDIM = 16
PQ_K = 8
PQ_TOPK = 5
PQ_NQUERY = 10


def _pq_cents_row(cents: DataFrame) -> DataFrame:
    """ONE broadcastable row holding every subspace's codebook — the
    (sub, cid)-sorted array of (sub, cid, cs) structs. M·K·SUBDIM
    ints total: constant-size, gate-free broadcast."""
    arr = cents.groupBy("sub", "cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("sdim").alias("dim"), "cent"))),
            lambda s: s["cent"],
        ).alias("cs")
    )
    return arr.agg(
        F.array_sort(F.collect_list(F.struct("sub", "cid", "cs"))).alias("cents")
    )


def _pq_d2(cs):
    """Exact integer squared L2 between the row's xs column and a
    centroid array — THE shared fold for k-means assignment and every
    PQ distance (one definition; _kmeans_assign calls it too)."""
    return F.aggregate(
        F.zip_with("xs", cs, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_assign(Xs: DataFrame, cents_row: DataFrame) -> DataFrame:
    """(vec_id, sub, xs, cid, dist2): nearest codebook entry per
    (vector, subspace), ties to the lowest cid — zero-shuffle: the
    codebook rides in as one broadcast row and each input row argmins
    over ITS subspace's K entries inside a higher-order aggregate."""
    j = Xs.crossJoin(F.broadcast(cents_row))
    mine = F.filter("cents", lambda ct: ct["sub"] == F.col("sub"))
    best = F.aggregate(
        mine,
        F.lit(None).cast("struct<dist2:bigint,cid:int>"),
        lambda m, ct: F.least(
            m, F.struct(_pq_d2(ct["cs"]).alias("dist2"), ct["cid"].alias("cid"))
        ),
    )
    return j.select("vec_id", "sub", "xs", best.alias("m")).select(
        "vec_id", "sub", "xs",
        F.col("m.cid").alias("cid"),
        F.col("m.dist2").alias("dist2"),
    )


def _pq_update(assign: DataFrame) -> DataFrame:
    """(sub, cid, sdim, cent): per-(subspace, cluster) integer
    floor-mean centroids — one shuffle per Lloyd iteration."""
    m = assign.select("sub", "cid", F.posexplode("xs").alias("sdim", "c"))
    return m.groupBy("sub", "cid", "sdim").agg(
        F.expr("sum(c) div count(*)").alias("cent")
    )


#: Sampled-codebook trainer: vec_ids hashing to bucket 0 of
#: PQ_TRAIN_MOD train the codebook (~1/MOD of the corpus); the FULL
#: corpus is still encoded and searched. At 100 TB a trainer never
#: sees every vector — this is the split_train_val_hash machinery
#: (deterministic Carter-Wegman-style bucket, stable under re-runs
#: and corpus growth) applied to codebook training (VERDICT r9 #6).
PQ_TRAIN_MOD = 2


def _pq_train_pred() -> "F.Column":
    """Spark side of the deterministic training-sample predicate."""
    return TX.hash32(F.col("vec_id").cast("string")) % PQ_TRAIN_MOD == 0


def _pq_train_pred_sql() -> str:
    return f"{TX.hash32_sql('CAST(vec_id AS VARCHAR)')} % {PQ_TRAIN_MOD} = 0"


def _pq_train_ctes(train_pred: str = "TRUE") -> str:
    """The PQ codebook pipeline as oracle CTE text — ONE definition
    shared by every PQ oracle (ann_pq_adc, its sampled-trainer
    variant, ann_ivf_pq), parameterized by the training predicate:
    ``codes`` is always the FULL corpus; only the Lloyd side (seeds,
    first assignment, centroid update) restricts to ``tr`` rows
    matching ``train_pred``. The final distances (``d2``), encodings
    (``enc``), and query LUT (``qd``) always cover the full corpus.
    With the default TRUE this is textually-reorganized but
    semantically identical to the original inline ann_pq_adc oracle
    (r9), whose driver row is green.
    """
    return f"""codes AS (
        SELECT vec_id, dim, code AS c FROM ({_quant_oracle()}) qz
    ),
    sc AS (
        SELECT vec_id, dim // {PQ_SUBDIM} AS sub, dim % {PQ_SUBDIM} AS sdim, c
        FROM codes
    ),
    tr AS (SELECT * FROM sc WHERE {train_pred}),
    seedids AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        FROM (SELECT DISTINCT vec_id FROM tr ORDER BY vec_id LIMIT {PQ_K}) s
    ),
    cents0 AS (
        SELECT seedids.cid, tr.sub, tr.sdim, tr.c AS cent
        FROM tr JOIN seedids ON tr.vec_id = seedids.vec_id
    ),
    d1 AS (
        SELECT tr.vec_id, tr.sub, cents0.cid,
               sum((tr.c - cents0.cent) * (tr.c - cents0.cent)) AS dist2
        FROM tr JOIN cents0 ON tr.sub = cents0.sub AND tr.sdim = cents0.sdim
        GROUP BY 1, 2, 3
    ),
    a1 AS (
        SELECT vec_id, sub, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY dist2, cid
            ) AS rk FROM d1
        ) WHERE rk = 1
    ),
    cents1 AS (
        SELECT a1.sub, a1.cid, tr.sdim, sum(tr.c) // count(*) AS cent
        FROM tr JOIN a1 ON tr.vec_id = a1.vec_id AND tr.sub = a1.sub
        GROUP BY 1, 2, 3
    ),
    d2 AS (
        SELECT sc.vec_id, sc.sub, cents1.cid,
               sum((sc.c - cents1.cent) * (sc.c - cents1.cent)) AS dist2
        FROM sc JOIN cents1 ON sc.sub = cents1.sub AND sc.sdim = cents1.sdim
        GROUP BY 1, 2, 3
    ),
    enc AS (
        SELECT vec_id, sub, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY dist2, cid
            ) AS rk FROM d2
        ) WHERE rk = 1
    ),
    qd AS (
        SELECT vec_id AS qid, sub, cid, dist2 AS d2q
        FROM d2 WHERE vec_id < {PQ_NQUERY}
    )"""


#: Shared ADC-search oracle tail: sum the query's per-(sub, cid)
#: distance table over each candidate's code, top-PQ_TOPK per query
#: on (est, nid).
_PQ_ADC_TAIL = f""",
    adc AS (
        SELECT qd.qid, enc.vec_id AS nid, sum(qd.d2q) AS est
        FROM enc JOIN qd ON qd.sub = enc.sub AND qd.cid = enc.cid
        WHERE enc.vec_id <> qd.qid
        GROUP BY 1, 2
    )
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(est AS BIGINT) AS adc_dist2, rnk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY est, nid
        ) AS rnk FROM adc
    ) WHERE rnk <= {PQ_TOPK}"""


def _pq_codes_xs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """localCheckpointed (vec_id, sub, xs) subvector table — the PQ
    staging frame every trainer/encoder/search branch reuses (on a
    cluster: one materialization instead of re-deriving the quantize
    chain per branch). r11: built by SLICING the zero-shuffle
    _sq8_codes_array form — a 1→M row-local fan-out, no Exchange
    (the previous explode→regroup path shuffled n·d scalar rows).
    r13: memoized per (application, corpus) so the trio of PQ
    consumers materializes it once, not once per query."""
    return _index_stage(
        spark, sf_dir, "pq_codes_xs", lambda: _pq_codes_xs_build(spark, sf_dir)
    )


def _pq_codes_xs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = _sq8_codes_array(spark, sf_dir)
    # ceil(d / SUBDIM) subspaces: the LAST slice is allowed to be
    # partial, exactly the oracle's `dim // SUBDIM` grouping (review
    # r11: a floor-based count silently DROPPED trailing dims when d
    # is not a SUBDIM multiple, and d < SUBDIM produced a descending
    # sequence). slice() truncates at the array end, so the tail
    # subvector carries the remainder dims on both sides.
    sub_slices = F.expr(
        f"transform(sequence(0, (size(xs) + {PQ_SUBDIM - 1}) div {PQ_SUBDIM} - 1),"
        f" s -> slice(xs, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM}))"
    )
    return arr.select("vec_id", F.posexplode(sub_slices).alias("sub", "xs"))


def _pq_train(Xs: DataFrame) -> DataFrame:
    """Train the PQ codebook over ``Xs`` (pass a filtered frame for
    the sampled trainer): 2 deterministic integer Lloyd iterations,
    seeded by the PQ_K smallest vec_ids present. Returns the ONE
    broadcastable codebook row (_pq_cents_row shape)."""
    seed_ids = (
        Xs.select("vec_id").distinct().orderBy("vec_id").limit(PQ_K)
    ).select(
        "vec_id",
        (F.row_number().over(W.orderBy("vec_id")) - 1).alias("cid"),
    )
    seeds = Xs.join(F.broadcast(seed_ids), "vec_id").select(
        "sub", "cid", F.posexplode("xs").alias("sdim", "cent")
    )
    a1 = _pq_assign(Xs, _pq_cents_row(seeds))
    return _pq_cents_row(_pq_update(a1))


def _pq_index(
    spark: SparkSession, sf_dir: str, sampled: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(cents_row, enc): the trained PQ index — ONE broadcastable
    codebook row plus the full-corpus (vec_id, sub, cid) encodings —
    memoized per (application, corpus, trainer). ``sampled`` selects
    the production trainer (codebook trained on the hash-bucket-0
    ~1/PQ_TRAIN_MOD sample); the corpus is ALWAYS fully encoded.
    Both frames are localCheckpointed: the codebook is one row, the
    encodings n·M ints — the exact pair write_pq/ivfpq index sinks
    persist, held in-session so every search/audit over the same
    corpus reads one trained artifact (VERDICT r12 #2)."""
    tag = "sampled" if sampled else "full"

    def _cents() -> DataFrame:
        Xs = _pq_codes_xs(spark, sf_dir)
        tr = Xs.filter(_pq_train_pred()) if sampled else Xs
        return _pq_train(tr)

    cents_row = _index_stage(spark, sf_dir, f"pq_cents_{tag}", _cents)
    enc = _index_stage(
        spark,
        sf_dir,
        f"pq_enc_{tag}",
        lambda: _pq_assign(_pq_codes_xs(spark, sf_dir), cents_row).select(
            "vec_id", "sub", "cid"
        ),
    )
    return cents_row, enc


def _pq_lut(Xs: DataFrame, cents_row: DataFrame) -> DataFrame:
    """(qid, sub, cid, d2q): the asymmetric query-side lookup table —
    exact integer d2 of each query subvector to EVERY codebook entry
    of its subspace. PQ_NQUERY·M·K rows: constant-size, broadcast."""
    q = Xs.filter(F.col("vec_id") < PQ_NQUERY).crossJoin(F.broadcast(cents_row))
    return q.select(
        F.col("vec_id").alias("qid"),
        "sub",
        "xs",
        F.explode(F.filter("cents", lambda ct: ct["sub"] == F.col("sub"))).alias("ct"),
    ).select(
        "qid", "sub", F.col("ct.cid").alias("cid"), _pq_d2(F.col("ct.cs")).alias("d2q")
    )


def _pq_adc_topk(lookups: DataFrame, extra: tuple = ()) -> DataFrame:
    """The ADC ranking tail — ONE definition for the ungated searches
    AND the IVF-gated composition (review r11: an inline twin would
    let the (est, nid) tie-break or the long cast drift between the
    two): ``lookups`` holds one (qid, vec_id, d2q[, *extra]) row per
    matched (candidate, subspace) LUT entry; sum to the ADC estimate,
    window top-PQ_TOPK on (est, nid). ``extra`` columns (e.g. the
    IVF cell) are constant per candidate and ride through the
    group-by into the output."""
    adc = lookups.groupBy("qid", "vec_id", *extra).agg(F.sum("d2q").alias("est"))
    wq = W.partitionBy("qid").orderBy("est", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            *extra,
            F.col("est").cast("long").alias("adc_dist2"),
            "rnk",
        )
    )


def _pq_adc_lookups(enc: DataFrame, qd: DataFrame) -> DataFrame:
    """Ungated lookups: broadcast the LUT into the n·M code scan."""
    return enc.join(F.broadcast(qd), ["sub", "cid"]).filter(
        F.col("vec_id") != F.col("qid")
    )


@retired_query(
    # RETIRED r11: the whole-corpus-trained ADC search is covered by
    # its two registered siblings built from the SAME helpers —
    # ann_ivf_pq (full-corpus codebook + ADC, cell-gated) and
    # ann_pq_adc_sampled (identical ungated search, sampled trainer).
    "ann_pq_adc",
    oracle=f"""
    WITH {_pq_train_ctes()}{_PQ_ADC_TAIL}
    """,
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    — the third leg of the similarity-search stack (brute-force =
    exact baseline, sign-LSH/IVF = bucketed candidate pruning, PQ =
    memory compression): each vector is encoded as 4 codebook
    ids (16-dim subspaces, K=8 entries trained with the
    kmeans_int8_lloyd2 discipline — 2 integer Lloyd iterations,
    deterministic smallest-vec_id seeds), and a query is answered by
    summing per-subspace lookup-table distances (ADC) instead of
    touching raw vectors.

    Exactness: everything is integer — SQ8 codes, squared-L2
    distances, floor-mean centroid updates, tie-breaks on (dist2,
    cid) / (est, nid) — so both engines walk bit-identical codebooks,
    encodings, and rankings; adc_dist2 ≤ M·SUBDIM·255² ≈ 4.2e6 sits
    in int64/BIGINT (dtype-family rule). The ADC estimate for a query
    IN the corpus uses the query's own d2-to-centroid table (the
    standard asymmetric trick: the query side stays unquantized
    against the codebook).

    Scale: training/encoding is the k-means shape per subspace — the
    codebook is ONE broadcast row (M·K·SUBDIM ints), every assignment
    a zero-shuffle map-side argmin, the only iteration shuffle the
    M·K·SUBDIM centroid update; ADC joins the PQ_NQUERY·M·K
    lookup table (broadcast, constant-size) to the n·M code rows and
    top-k per query mirrors knn_bruteforce_cosine's accepted window
    shape. At 100 TB the codes table is the ONLY per-vector state the
    search touches: 64× smaller than the raw f32 embeddings. This
    variant trains over the full corpus (the strongest checkable
    setting at test SF); ann_pq_adc_sampled is the production-trainer
    twin, and ann_ivf_pq composes these codes with IVF cell gating.
    """
    Xs = _pq_codes_xs(spark, sf_dir)
    cents1_row, enc = _pq_index(spark, sf_dir)
    return _pq_adc_topk(_pq_adc_lookups(enc, _pq_lut(Xs, cents1_row)))


@query(
    "ann_pq_adc_sampled",
    oracle=f"""
    WITH {_pq_train_ctes(_pq_train_pred_sql())}{_PQ_ADC_TAIL}
    """,
)
def ann_pq_adc_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_pq_adc with the PRODUCTION trainer: the codebook trains on
    a deterministic ~1/PQ_TRAIN_MOD hash-sample of the corpus
    (bucket 0 of hash32(vec_id), the split_train_val_hash machinery),
    then the FULL corpus is encoded and searched with it. At 100 TB a
    codebook trainer never scans every vector — it samples, trains,
    persists, and the encode pass is the only full scan; this query
    pins that split exactly (VERDICT r9 #6: sampled-codebook
    decision). The sample is a pure function of vec_id — stable under
    re-runs, repartitioning, and corpus growth, unlike rand().

    Exactness: unchanged from ann_pq_adc — the sample predicate is
    integer/md5 arithmetic both engines reproduce bit-identically,
    and everything downstream is the same integer Lloyd/ADC pipeline
    (training on fewer rows changes the codebook VALUES, not the
    determinism). Output shape identical; rankings legitimately
    differ from the full trainer's — that delta IS the trainer-
    sampling effect, visible by diffing the two queries' rows.
    """
    Xs = _pq_codes_xs(spark, sf_dir)
    cents1_row, enc = _pq_index(spark, sf_dir, sampled=True)
    return _pq_adc_topk(_pq_adc_lookups(enc, _pq_lut(Xs, cents1_row)))


# ---------------------------------------------------------------------------
# IVF × PQ: coarse cells gating ADC lookups (the production ANN shape)
# ---------------------------------------------------------------------------

#: Cells probed per query in the composed IVF-PQ search.
IVFPQ_NPROBE = 2


@query(
    "ann_ivf_pq",
    oracle=f"""
    WITH {_ivf_oracle_ctes(IVFPQ_NPROBE, PQ_NQUERY)},
    {_pq_train_ctes()},
    adcp AS (
        SELECT qp.qid, a.vec_id AS nid, a.cell, sum(qd.d2q) AS est
        FROM qprobe qp
        JOIN assign a ON a.cell = qp.cell AND a.vec_id <> qp.qid
        JOIN enc ON enc.vec_id = a.vec_id
        JOIN qd ON qd.qid = qp.qid AND qd.sub = enc.sub AND qd.cid = enc.cid
        GROUP BY 1, 2, 3
    )
    SELECT qid AS query_id, nid AS neighbor_id, cell,
           CAST(est AS BIGINT) AS adc_dist2, rnk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY est, nid
        ) AS rnk FROM adcp
    ) WHERE rnk <= {PQ_TOPK}
    """,
)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ — the composition production ANN actually runs (the
    FAISS IVFPQ shape, and the one search the stack's separate legs
    implied but didn't ship until r11): an IVF coarse quantizer
    restricts each query to its IVFPQ_NPROBE nearest cells, and
    within those cells distance is the PQ/ADC lookup-table estimate
    over compressed codes — so a query touches ~nprobe·n/k candidates
    (IVF invariant) at 4 bytes each (PQ invariant) instead of n raw
    float vectors.

    Index build (amortized across query batches, exactly what gets
    persisted in production): the coarse assignment (zero-Exchange
    map-side argmin over the broadcast centroid row, _ivf_assign) is
    joined ONCE with the PQ encodings on vec_id — the one build
    shuffle, producing the (cell, vec_id, sub, cid) table that a real
    deployment writes partitioned BY CELL so probing is partition
    pruning. Search: the probe list (PQ_NQUERY·nprobe rows) and the
    ADC LUT (PQ_NQUERY·M·K rows) both broadcast into a single scan of
    that index — no shuffle grows with the corpus; the only
    aggregation is per-(query, candidate) over the gated candidates.

    Exactness: cell assignment/probing reuse the driver-green IVF
    cosine argmin (ties on cell id; same measure-zero ulp caveat as
    ann_ivf_cells), and everything after the gate is the integer
    ADC pipeline (codebooks, encodings, (est, nid) tie-breaks) —
    bit-identical across engines. Candidate sets are identical by
    construction: a corpus vector lives in exactly one cell, so the
    nprobe cells contribute disjoint candidates. Recall is measured,
    not implied: ann_ivf_pq_recall scores this exact output against
    brute-force cosine.
    """
    emb = _embs(spark, sf_dir)
    cent_arr = _ivf_cent_arr(spark, sf_dir)
    cents1_row, enc = _pq_index(spark, sf_dir)
    # The one build shuffle (coarse cells ⋈ PQ encodings on vec_id),
    # memoized: THIS join result is what write_ivfpq_index persists
    # partitioned by cell; in-session the trio reads it once.
    index = _index_stage(
        spark,
        sf_dir,
        "ivfpq_index",
        lambda: _ivf_assign(emb, cent_arr)
        .select("vec_id", "cell")
        .join(enc, ["vec_id"]),
    )
    probes = _ivf_probe(
        emb.filter(F.col("vec_id") < PQ_NQUERY), cent_arr, IVFPQ_NPROBE
    ).select("query_id", "cell")
    qd = _pq_lut(_pq_codes_xs(spark, sf_dir), cents1_row)
    hits = index.join(
        F.broadcast(probes.withColumnRenamed("query_id", "qid")), ["cell"]
    ).filter(F.col("vec_id") != F.col("qid"))
    lookups = hits.join(F.broadcast(qd), ["qid", "sub", "cid"])
    return _pq_adc_topk(lookups, extra=("cell",))


def _ivfpq_oracle() -> str:
    """The registered ann_ivf_pq oracle as a subquery — the recall
    audit scores the SAME search, textually (the _quant_oracle
    pattern)."""
    from bigdata_riveranalysis_spark.plans.registry import REGISTRY

    return REGISTRY["ann_ivf_pq"].oracle


@query(
    "ann_ivf_pq_recall",
    oracle=f"""
    WITH ipq AS (
        SELECT query_id, neighbor_id FROM ({_ivfpq_oracle()}) x
    ),
    exact_pairs AS (
        SELECT q.vec_id AS qid, a.vec_id AS nid,
               {VX.cosine_sql("q.embedding", "a.embedding")} AS cos
        FROM embeddings q JOIN embeddings a
          ON q.vec_id < {PQ_NQUERY} AND a.vec_id <> q.vec_id
    ),
    exactk AS (
        SELECT qid, nid
        FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                                                  ORDER BY cos DESC, nid) AS rnk
              FROM exact_pairs)
        WHERE rnk <= {PQ_TOPK}
    ),
    hits AS (
        SELECT i.query_id AS qid, count(*) AS n_hits
        FROM ipq i JOIN exactk e ON i.query_id = e.qid AND i.neighbor_id = e.nid
        GROUP BY 1
    )
    SELECT q.qid AS query_id,
           CAST({IVFPQ_NPROBE} AS INTEGER) AS n_probed_cells,
           coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
           round(coalesce(h.n_hits, 0) / {PQ_TOPK}.0, 6) AS recall_at_{PQ_TOPK}
    FROM (SELECT DISTINCT vec_id AS qid FROM embeddings
          WHERE vec_id < {PQ_NQUERY}) q
    LEFT JOIN hits h ON q.qid = h.qid
    """,
)
def ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall witness for the composed IVF×PQ search: its top-PQ_TOPK
    per query (by ADC estimate, within nprobe cells) scored against
    the EXACT cosine top-PQ_TOPK over the whole corpus — the
    ann_ivf_recall_nprobe2 discipline applied to the composition, so
    the two approximation sources (cell gating AND code compression)
    are audited together, which is the number a deployment actually
    tunes nprobe/M/K against.

    Scale: the IVF×PQ side is the serving path (see ann_ivf_pq); the
    exact side brute-forces only the PQ_NQUERY-query sample against
    the corpus (broadcast queries, one map-side scan + a top-k
    window) — the standard recall-audit harness at 100 TB.
    """
    # Consume the search's localCheckpointed output (memoized per
    # corpus) instead of re-running the whole IVF×PQ pipeline inside
    # the audit (VERDICT r12 #2): a deployment scores the search
    # results it already produced, it doesn't re-search to audit.
    ipq = _index_stage(
        spark,
        sf_dir,
        "ivfpq_topk",
        lambda: ann_ivf_pq(spark, sf_dir),
    ).select("query_id", "neighbor_id")
    emb = _embs(spark, sf_dir)
    qvecs = emb.filter(F.col("vec_id") < PQ_NQUERY)
    exact_pairs = (
        emb.join(
            F.broadcast(
                qvecs.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qe"),
                )
            ),
            F.col("vec_id") != F.col("query_id"),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            VX.cosine(F.col("qe"), F.col("embedding")).alias("cos"),
        )
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    exactk = (
        exact_pairs.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select("query_id", "neighbor_id")
    )
    hits = (
        ipq.join(F.broadcast(exactk), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        qvecs.select(F.col("vec_id").alias("query_id"))
        .join(F.broadcast(hits), ["query_id"], "left")
        .select(
            "query_id",
            F.lit(IVFPQ_NPROBE).cast("int").alias("n_probed_cells"),
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / float(PQ_TOPK), 6
            ).alias(f"recall_at_{PQ_TOPK}"),
        )
    )
