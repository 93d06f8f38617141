"""Deduplication operators over the `documents` table (north-star extension,
BASELINE.json): exact dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

All hashing is the portable md5-derived 60-bit hash (functions/text.py
portable_hash60) so each operator has an *exact* DuckDB oracle — no
engine-specific hash functions in anything the correctness gate checks.

Scale design:
  - signatures are computed without exploding (array lambdas inside one
    projection → whole-stage codegen, no shuffle);
  - the only shuffles are the LSH band groupBy (small: docs × bands) and the
    candidate self-join (banded, so it never goes quadratic);
  - exact dedup is a single hash aggregate on md5(text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.io import read_parquet_cached as _rpc
from pyspark.sql import functions as F

from ..functions import text as TXT

# MinHash parameters (shared literal constants with the SQL oracle)
MINHASH_K = 16
MINHASH_P = 1_000_000_007
BANDS = 4
ROWS_PER_BAND = MINHASH_K // BANDS
# k-th permutation: h_k(x) = (A[k]*x + B[k]) mod P  (x already reduced mod P)
A = [2 * k + 3 for k in range(MINHASH_K)]
B = [5 * k + 1 for k in range(MINHASH_K)]
SHINGLE_K = 3

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan, re-spread across cores: the testdata is one small
    parquet file (one split), which would serialize every downstream stage;
    on a real cluster the source arrives in many splits and this repartition
    is a no-op cost-wise relative to the signature computation.

    Hash-partitioned on doc_id (not round-robin): every downstream per-doc
    window/groupBy then reuses this distribution, so the exchange moves the
    ~narrow doc rows ONCE instead of re-shuffling the ~300×-larger exploded
    shingle stream into the window."""
    d = _rpc(spark, f"{sf_dir}/documents.parquet")
    return d.repartition(d.sparkSession.sparkContext.defaultParallelism, "doc_id")

def _doc_shingle_rows(spark: SparkSession, sf_dir: str,
                      distinct: bool = True) -> DataFrame:
    """(doc_id, s) shingle rows of the documents table (see _shingle_rows)."""
    return _shingle_rows(_docs(spark, sf_dir), distinct=distinct)

def _shingle_rows(d: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, s) rows of 3-word shingles via posexplode + window lead —
    whole-stage codegen end to end. The array-lambda form (transform +
    concat_ws over element_at) evaluates every lambda *interpreted* and
    measures ~3× slower; the window shuffle keys on doc_id, which downstream
    per-doc aggregates then reuse (no second exchange).

    distinct=False skips the dedup shuffle for consumers where duplicate
    shingles cannot change the answer (min-aggregation in MinHash)."""
    tok = d.select(
        "doc_id", F.posexplode(TXT.tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    last = F.lead("tok", SHINGLE_K - 1).over(w)
    sh = (
        tok.select(
            "doc_id",
            F.concat_ws(" ", "tok", *[
                F.lead("tok", j).over(w) for j in range(1, SHINGLE_K)
            ]).alias("s"),
            last.alias("__ok"),
        )
        .where(F.col("__ok").isNotNull())
        .select("doc_id", "s")
    )
    return sh.distinct() if distinct else sh

# ------------------------------------------------------------- exact dedup

def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy exact dedup: canonical doc per md5(text), dup count."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )

EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""

# ---------------------------------------------------------------- minhash

def _sig_from_hashes(hashes):
    """16-element MinHash signature from a *materialized* per-shingle hash
    array, via array lambdas (no explode, no shuffle). The md5-derived base
    hash is computed once per shingle; the 16 permutations are cheap integer
    affine maps over it."""
    arr_a = F.array(*[F.lit(a) for a in A])
    arr_b = F.array(*[F.lit(b) for b in B])
    return F.transform(
        F.sequence(F.lit(0), F.lit(MINHASH_K - 1)),
        lambda k: F.array_min(
            F.transform(
                hashes,
                lambda h: (F.element_at(arr_a, (k + 1).cast("int")) * h
                           + F.element_at(arr_b, (k + 1).cast("int"))) % MINHASH_P,
            )
        ),
    )

def _signature_col(shingles):
    """Signature straight from a shingle column (test/API convenience)."""
    return _sig_from_hashes(
        F.transform(shingles, lambda s: TXT.portable_hash60(s) % MINHASH_P)
    )

def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures via explode + 16 min-aggregates, NOT nested array lambdas:
    higher-order functions are evaluated *interpreted* (outside whole-stage
    codegen), so 16 perms × |shingles| lambda evals per doc cost ~µs each —
    while codegen'd min() aggregates with map-side partial aggregation chew
    the same arithmetic at memory bandwidth. Duplicate shingles can't change
    a min, so the distinct shuffle is skipped; the groupBy reuses the shingle
    window's doc_id partitioning (no extra exchange)."""
    h = _doc_shingle_rows(spark, sf_dir, distinct=False).select(
        "doc_id", (TXT.portable_hash60(F.col("s")) % MINHASH_P).alias("h")
    )
    # r13 (optimization round): each aggregate as ONE parsed SQL string —
    # the operator-built Column form cost ~6 py4j round trips per perm
    # (~0.3 s of driver time per query build); the parsed expressions are
    # identical (int literal × bigint, same order, same mod)
    flat = h.groupBy("doc_id").agg(*[
        F.expr(f"min(({A[k]} * h + {B[k]}) % {MINHASH_P}) AS m{k}")
        for k in range(MINHASH_K)
    ])
    return flat.selectExpr(
        "doc_id",
        "array(" + ", ".join(f"m{k}" for k in range(MINHASH_K)) + ") AS sig",
    )

# Oversized-bucket decomposition threshold: a bucket with more members
# than this (a degenerate boilerplate cluster — thousands of docs sharing
# one band signature) is split into block-pair tasks so no single task ever
# materializes more than BUCKET_BLOCK² pairs. The pair SET is unchanged —
# this bounds and spreads the quadratic work, it does not sample it — so
# recall is exactly 100% and the SQL oracles need no policy mirror.
BUCKET_BLOCK = 1024


def _bucket_pairs(grouped: DataFrame, ids_col: str = "ids",
                  block: int = BUCKET_BLOCK) -> DataFrame:
    """(doc_a, doc_b) for every unordered pair within each bucket's sorted
    member array (element type preserved — longs or structs). One scan of
    the bucket table — replaces a bucket self-join, which would compute the
    (expensive) upstream twice and shuffle it twice.

    Every bucket is decomposed into a (bi ≤ bj) block-task spine over
    `block`-element slices: a normal bucket (≤ block members) yields
    exactly ONE task row carrying the whole array — identical to direct
    in-bucket pair generation — while a degenerate mega-bucket (LSH on web
    data WILL produce a near-identical-boilerplate bucket; unguarded, a
    100k-member bucket lands 5·10⁹ pairs on one task) fans out into
    nb(nb+1)/2 tasks, each shipping only its two ≤block-element slices,
    with per-task pair fan-out capped at block². The spine is round-robin
    repartitioned into one partition per mega-bucket block task (never
    fewer than the cores), so those tasks spread across the cluster
    whatever its size; counting them is one aggregate over the bucket
    sizes. The exchange volume is O(bucket table) — the same order the
    band groupBy just shuffled. The emitted pair SET is identical in both regimes
    (arrays sorted; same-block tasks pair i<j, cross-block pair all with
    bi<bj preserving order) — bounded and spread, never sampled, so
    recall is exactly 100% and the SQL oracles need no policy mirror."""
    ids = F.col(ids_col)
    sess = grouped.sparkSession
    nb = F.ceil(F.size(ids) / F.lit(block)).cast("int")
    # the bucket table is materialized once: the task count and the
    # tasks below both read it, and neither recomputes its upstream
    grouped = grouped.localCheckpoint(eager=True)
    mega_tasks = (grouped.where(F.size(ids) > block)
                  .agg(F.sum(nb * (nb + 1) / 2)).first()[0]) or 0
    spine = F.flatten(F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda i: F.transform(
            F.sequence(i, nb - 1),
            lambda j: F.struct(i.alias("bi"), j.alias("bj")),
        ),
    ))
    # slice BEFORE the spreading shuffle: a task row never ships more
    # than 2·block elements, whatever the bucket size
    tasks = (
        grouped.select(ids.alias("__ids"), F.explode(spine).alias("t"))
        .select(
            F.slice(F.col("__ids"), F.col("t.bi") * block + 1, block)
            .alias("__li"),
            F.slice(F.col("__ids"), F.col("t.bj") * block + 1, block)
            .alias("__lj"),
            (F.col("t.bi") == F.col("t.bj")).alias("__same"),
        )
        .repartition(max(sess.sparkContext.defaultParallelism,
                         int(mega_tasks)))
    )

    def within(arr):
        """All ordered pairs (arr[i], arr[j]), i < j, arr sorted. The index
        spine is filtered, not sequence(0, size-2): for a 1-element array
        (a bucket of n ≡ 1 mod block leaves a 1-element tail slice)
        sequence(0, -1) DESCENDS to [0, -1] and the -1 index throws
        INVALID_INDEX_OF_ZERO — the filtered spine is empty instead."""
        idx = F.filter(
            F.sequence(F.lit(0), F.greatest(F.size(arr) - 2, F.lit(0))),
            lambda i: i < F.size(arr) - 1,
        )
        return F.flatten(F.transform(
            idx,
            lambda i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda x: F.struct(
                    F.element_at(arr, (i + 1).cast("int")).alias("doc_a"),
                    x.alias("doc_b"),
                ),
            ),
        ))

    cross = F.flatten(F.transform(
        F.col("__li"),
        lambda x: F.transform(
            F.col("__lj"),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        ),
    ))
    return tasks.select(
        F.explode(
            F.when(F.col("__same"), within(F.col("__li"))).otherwise(cross)
        ).alias("p")
    ).select(
        F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
    )

def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs: docs agreeing on any LSH band (4 bands × 4
    rows). Pairs are generated inside each (band, bucket) group from the
    collected doc list — the signature pipeline runs ONCE (a self-join would
    recompute it per side) and the only shuffles are the band groupBy and the
    final distinct."""
    sig = minhash_signatures(spark, sf_dir)
    # bucket id = 60-bit hash of the band's signature slice (not the md5
    # hex): the band shuffle keys on an 8-byte long instead of a 32-char
    # string — same grouping, 4x less shuffle key volume
    bands = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    TXT.portable_hash60(F.concat_ws(",", F.transform(
                        F.slice(F.col("sig"), (b * ROWS_PER_BAND + 1).cast("int"), ROWS_PER_BAND),
                        lambda v: v.cast("string"),
                    ))).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    grouped = (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    return _bucket_pairs(grouped).distinct()

_SIG_SQL = f"""
shingled AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - {SHINGLE_K - 1}, 0) + 1),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i+1],
                              string_split(text, ' ')[i+2])
           )) AS shingles
    FROM documents
    WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
),
hashed AS (
    SELECT doc_id,
           list_transform(shingles,
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P}) AS hs
    FROM shingled WHERE len(shingles) > 0
),
perms AS (SELECT unnest(range(0, {MINHASH_K})) AS k),
sig AS (
    SELECT doc_id, k,
           list_aggregate(list_transform(hs,
               h -> ((2*k + 3) * h + (5*k + 1)) % {MINHASH_P}), 'min') AS m
    FROM hashed, perms
)
"""

MINHASH_LSH_ORACLE = f"""
WITH {_SIG_SQL.strip()},
bands AS (
    SELECT doc_id, k // {ROWS_PER_BAND} AS band,
           ('0x' || substr(md5(string_agg(m::VARCHAR, ',' ORDER BY k)), 1, 15))::BIGINT AS bucket
    FROM sig
    GROUP BY doc_id, k // {ROWS_PER_BAND}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""

# ----------------------------------------------------------------- simhash

SIMHASH_BITS = 16

def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over distinct tokens (portable 60-bit hash reduced to
    16 bits; bit votes +1/-1; bit set when vote sum >= 0)."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(TXT.tokens(F.col("text")))).alias("tok"),
    ).withColumn("h", TXT.portable_hash60(F.col("tok")) % (1 << SIMHASH_BITS))
    votes = tok.groupBy("doc_id").agg(*[
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ])
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.cast("long").alias("simhash"))

SIMHASH_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT % {1 << SIMHASH_BITS} AS h
    FROM tok
),
votes AS (
    SELECT doc_id,
           {", ".join(
               f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
               for i in range(SIMHASH_BITS)
           )}
    FROM hashed GROUP BY doc_id
)
SELECT doc_id,
       CAST({" + ".join(
           f"CASE WHEN s{i} >= 0 THEN {1 << i} ELSE 0 END"
           for i in range(SIMHASH_BITS)
       )} AS BIGINT) AS simhash
FROM votes
"""

# ----------------------------------------------------------- n-gram jaccard

JACCARD_THRESHOLD = 0.6

def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 3-word-shingle Jaccard >= 0.6: group distinct
    shingle rows by shingle, emit in-bucket pairs (shared-shingle prefilter —
    pairs with zero overlap never materialize), count pair occurrences =
    intersection size.

    Single pass over the shingle pipeline: collect_set per doc dedupes AND
    yields the shingle count in one aggregate that reuses the lead-window's
    doc_id partitioning (zero extra exchange) — replacing the previous
    distinct-shuffle + re-shuffled window count. The whole query moves data
    twice: once onto doc_id for shingling, once onto the shingle for bucket
    pairing. Set order from collect_set is nondeterministic but only the
    size and membership are consumed."""
    sh = _doc_shingle_rows(spark, sf_dir, distinct=False)
    # bucket on the 60-bit portable hash of the shingle, not the shingle
    # string: the bucket shuffle moves 8-byte longs instead of ~20-byte
    # text, and the oracle reproduces the identical hash — membership and
    # counts are unchanged (a 60-bit collision across ~1e6 shingles is
    # ~1e-6 probable AND would have to collide within one doc pair to
    # matter; dedup systems bucket on hashes for exactly this reason)
    sh = (
        sh.groupBy("doc_id").agg(
            F.collect_set(TXT.portable_hash60(F.col("s"))).alias("__ss"))
        .select("doc_id", F.size("__ss").alias("n"), F.explode("__ss").alias("s"))
    )
    grouped = (
        sh.groupBy("s")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    # shared guarded pair generator (oversized shingle buckets decompose
    # into bounded block tasks — see _bucket_pairs); elements are
    # (doc_id, n) structs, unpacked after the explode
    pairs = _bucket_pairs(grouped).select(
        F.col("doc_a.doc_id").alias("doc_a"), F.col("doc_a.n").alias("na"),
        F.col("doc_b.doc_id").alias("doc_b"), F.col("doc_b.n").alias("nb"),
    )
    return (
        pairs.groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )

NGRAM_JACCARD_ORACLE = f"""
WITH sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - {SHINGLE_K - 1}, 0) + 1),
               i -> ('0x' || substr(md5(concat_ws(' ',
                        string_split(text, ' ')[i],
                        string_split(text, ' ')[i+1],
                        string_split(text, ' ')[i+2])), 1, 15))::BIGINT
           ))) AS s
    FROM documents
    WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       inter / (na.n + nb.n - inter) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE inter / (na.n + nb.n - inter) >= {JACCARD_THRESHOLD}
"""

# ------------------------------------------------------- contamination check

EVAL_SET_MAX_DOC = 20        # doc_id < 20 plays the held-out benchmark set
CONTAM_MIN_SHARED = 3        # shared 3-gram threshold

def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: which corpus documents share ≥ 3
    distinct 3-word shingles with any eval-set document (doc_id < 20 plays
    the held-out benchmark)? The decontamination pass every training-data
    pipeline runs before training (n-gram collision check à la the
    dedup/contamination literature).

    Asymmetric by construction: eval shingles are a bounded set, so the
    plan is shingle corpus → semi-join-style match on the 60-bit shingle
    hash against the (small) eval shingle side → count per (corpus, eval)
    pair. The eval side is tiny at any corpus scale — the join broadcasts —
    and the corpus side reuses the doc_id-partitioned shingle stream; no
    all-pairs stage exists.
    """
    sh = _doc_shingle_rows(spark, sf_dir, distinct=False).select(
        "doc_id", TXT.portable_hash60(F.col("s")).alias("h")
    ).dropDuplicates(["doc_id", "h"])
    ev = (
        sh.where(F.col("doc_id") < EVAL_SET_MAX_DOC)
        .select(F.col("doc_id").alias("eval_doc"), "h")
    )
    corpus = sh.where(F.col("doc_id") >= EVAL_SET_MAX_DOC)
    return (
        corpus.join(F.broadcast(ev), "h")
        .groupBy("doc_id", "eval_doc")
        .agg(F.count("*").alias("shared_shingles"))
        .where(F.col("shared_shingles") >= CONTAM_MIN_SHARED)
    )

CONTAMINATION_ORACLE = f"""
WITH sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - {SHINGLE_K - 1}, 0) + 1),
               i -> ('0x' || substr(md5(concat_ws(' ',
                        string_split(text, ' ')[i],
                        string_split(text, ' ')[i+1],
                        string_split(text, ' ')[i+2])), 1, 15))::BIGINT
           ))) AS h
    FROM documents
    WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
)
SELECT c.doc_id, e.doc_id AS eval_doc, count(*) AS shared_shingles
FROM sh c JOIN sh e ON c.h = e.h
WHERE c.doc_id >= {EVAL_SET_MAX_DOC} AND e.doc_id < {EVAL_SET_MAX_DOC}
GROUP BY 1, 2
HAVING count(*) >= {CONTAM_MIN_SHARED}
"""

def streaming_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination — contamination_check's semantics on a
    document STREAM: each arriving micro-batch is shingled and scanned
    against the static eval-set shingles, and violations append to the
    sink. The continuous-ingest shape every training pipeline needs
    (screen documents as they land, not in a nightly batch).

    The key property making this exact with ZERO streaming state (no
    watermark, no state store, no cross-batch memory): shingling is
    row-local, so a document's complete shingle set lives inside its own
    micro-batch, and each doc appears in exactly one batch — per-batch
    batch-logic via foreachBatch is therefore the whole computation. The
    eval side re-reads per batch (bounded, broadcast). At 100 TB of
    arriving docs the per-batch cost is the batch operator's, state is
    O(1), and the sink append is the only cross-batch artifact. Shares
    CONTAMINATION_ORACLE — the drained stream must equal the batch scan.
    """
    import atexit
    import os
    import shutil
    import tempfile

    # caller-scoped parquet sink: a fixed catalog table name would make
    # concurrent sessions sharing a metastore clobber each other and leak
    # the table after the result is consumed; a mkdtemp path is unique per
    # call and reclaimed at interpreter exit
    sink_dir = tempfile.mkdtemp(prefix="streaming_contamination_")
    atexit.register(shutil.rmtree, sink_dir, ignore_errors=True)

    schema = _rpc(spark, f"{sf_dir}/documents.parquet").schema
    reader = spark.readStream.schema(schema).format("parquet")
    mft = spark.conf.get("spark.geoengine.streaming.maxFilesPerTrigger", None)
    if mft:
        reader = reader.option("maxFilesPerTrigger", mft)
    path = f"{sf_dir}/documents.parquet"
    if os.path.isdir(path):
        stream = reader.load(path)
    else:
        stream = reader.option("pathGlobFilter", "documents.parquet").load(sf_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch runs in a CLONED session — build everything from
        # batch_df's session; the eval side is re-derived per batch (tiny)
        s = batch_df.sparkSession
        ev = (
            _shingle_rows(s.read.parquet(f"{sf_dir}/documents.parquet")
                          .where(F.col("doc_id") < EVAL_SET_MAX_DOC),
                          distinct=False)
            .select(F.col("doc_id").alias("eval_doc"),
                    TXT.portable_hash60(F.col("s")).alias("h"))
            .dropDuplicates(["eval_doc", "h"])
        )
        sh = (
            _shingle_rows(batch_df.where(F.col("doc_id") >= EVAL_SET_MAX_DOC),
                          distinct=False)
            .select("doc_id", TXT.portable_hash60(F.col("s")).alias("h"))
            .dropDuplicates(["doc_id", "h"])
        )
        out = (
            sh.join(F.broadcast(ev), "h")
            .groupBy("doc_id", "eval_doc")
            .agg(F.count("*").alias("shared_shingles"))
            .where(F.col("shared_shingles") >= CONTAM_MIN_SHARED)
        )
        out.write.mode("append").parquet(sink_dir)

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.schema(
        "doc_id bigint, eval_doc bigint, shared_shingles bigint"
    ).parquet(sink_dir)

def ngram_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-bucketed candidate pairs re-verified against the TRUE
    shingle STRING sets — the scale-path answer to the 60-bit-collision
    caveat on ngram_jaccard_pairs: a collision can only ever ADD a
    candidate (equal strings always hash equal, so no true pair is
    missed), and this exact per-pair recheck removes any such addition.

    Cost model at 100 TB: candidate pairs are a vanishing fraction of the
    corpus (they already share >= 1 shingle and passed the threshold on
    hashes), so the verification join broadcasts the pair list and moves
    full shingle arrays ONLY for candidate docs; the exact intersection is
    row-local array math (array_intersect), no extra shuffle beyond the
    two candidate-side joins."""
    cands = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    d = _docs(spark, sf_dir)
    sets = d.select(
        "doc_id",
        F.array_distinct(TXT.word_shingles(F.col("text"), SHINGLE_K))
        .alias("ss"),
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    inter = F.size(F.array_intersect(F.col("ssa"), F.col("ssb")))
    return (
        a.join(F.broadcast(cands), "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("ssa") + F.size("ssb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )

# pure string-shingle Jaccard (no hashing anywhere): because candidate
# generation can only over-generate, verified output == the exact answer
NGRAM_JACCARD_VERIFIED_ORACLE = f"""
WITH sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - {SHINGLE_K - 1}, 0) + 1),
               i -> concat_ws(' ',
                        string_split(text, ' ')[i],
                        string_split(text, ' ')[i+1],
                        string_split(text, ' ')[i+2])
           ))) AS s
    FROM documents
    WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       inter / (na.n + nb.n - inter) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE inter / (na.n + nb.n - inter) >= {JACCARD_THRESHOLD}
"""


# ----------------------------------------------- duplicated-span coverage

#: span granularity for substring-level dedup: a token 8-gram is the unit
#: the "deduplicating training data" line of work (Lee et al. 2022 uses
#: 50-BPE-token spans via suffix arrays) detects; fixed-n gram hashing is
#: the shuffle-friendly Spark formulation of the same measurement — every
#: duplicated span of length >= n is covered by its duplicated n-grams, so
#: per-doc covered-token counts agree with the suffix-array method for
#: spans >= n (shorter repeats are deliberately below the noise floor).
DUP_SPAN_N = 8


def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring coverage: the fraction of each
    document's tokens lying inside a token 8-gram that also occurs in at
    least one OTHER document — the per-doc statistic behind "trim or drop
    documents that are mostly boilerplate copied across the corpus".

    Three-step plan, every shuffle keyed small:
      1. positional 8-gram hashes (the lead-window shingle pipeline —
         whole-stage codegen, one doc_id exchange that later stages reuse);
      2. cross-doc duplicated grams: ONE aggregate on the 8-byte gram hash
         (count distinct docs >= 2), joined back on that hash;
      3. covered tokens per doc: overlapping [p, p+7] spans collapse via a
         lag window — union length = sum(min(8, p_i - p_{i-1})) — so no
         interval materialization, and the window's doc_id partitioning
         feeds the final group-by with no extra exchange.

    Documents with no duplicated span keep a row (left join, zero counts):
    the downstream filter needs every doc scored. Coverage permille is
    integer math (1000*covered div n_tokens) for cross-engine exactness.
    """
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.posexplode(TXT.tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram_str = F.concat_ws(
        " ", "tok", *[F.lead("tok", j).over(w) for j in range(1, DUP_SPAN_N)]
    )
    last = F.lead("tok", DUP_SPAN_N - 1).over(w)
    grams = (
        tok.select(
            "doc_id",
            (F.col("pos") + 1).alias("p"),
            TXT.portable_hash60(gram_str).alias("h"),
            last.alias("__ok"),
        )
        .where(F.col("__ok").isNotNull())
        .drop("__ok")
    )
    dup = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    dpos = grams.join(dup, "h").select("doc_id", "p")
    wd = Window.partitionBy("doc_id").orderBy("p")
    cov = dpos.select(
        "doc_id",
        F.coalesce(
            F.least(F.lit(DUP_SPAN_N).cast("long"),
                    (F.col("p") - F.lag("p").over(wd)).cast("long")),
            F.lit(DUP_SPAN_N).cast("long"),
        ).alias("c"),
    )
    agg = cov.groupBy("doc_id").agg(
        F.count("*").alias("dup_ngrams"),
        F.sum("c").alias("covered_tokens"),
    )
    base = d.select("doc_id", TXT.n_tokens(F.col("text")).alias("n_tokens"))
    return (
        base.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_ngrams", F.lit(0)).alias("dup_ngrams"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.expr("(1000 * coalesce(covered_tokens, 0)) div n_tokens")
                .alias("dup_permille"),
        )
    )


_G8 = ", ".join(f"t[i+{j}]" for j in range(DUP_SPAN_N))

DUP_NGRAM_SPANS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g AS (
    SELECT doc_id, i AS p,
           ('0x' || substr(md5(concat_ws(' ', {_G8})), 1, 15))::BIGINT AS h
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, len(t) - {DUP_SPAN_N - 1})) AS i
          FROM toks)
),
dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
dpos AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (h)),
cov AS (
    SELECT doc_id,
           COALESCE(least({DUP_SPAN_N},
                          p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)),
                    {DUP_SPAN_N}) AS c
    FROM dpos
),
agg AS (
    SELECT doc_id, count(*) AS dup_ngrams, sum(c) AS covered
    FROM cov GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.dup_ngrams, 0) AS BIGINT) AS dup_ngrams,
       CAST(COALESCE(a.covered, 0) AS BIGINT) AS covered_tokens,
       (1000 * CAST(COALESCE(a.covered, 0) AS BIGINT))
           // len(string_split(d.text, ' ')) AS dup_permille
FROM documents d LEFT JOIN agg a USING (doc_id)
"""

# ----------------------------------------------- segment dedup + rewrite

SEG_TOKENS = 10  # pseudo-line granularity (C4 dedupes three-sentence spans)

def segment_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style segment-level dedup WITH corpus rewrite: split
    every document into fixed SEG_TOKENS-token segments, keep only the
    corpus-wide FIRST occurrence of each distinct segment (min (doc_id,
    position) — fully deterministic), and reassemble each document from
    its surviving segments in order. Output per doc: the rewritten text,
    and kept/dropped segment counts.

    Scale: one shuffle groups segments by their text to pick the winner
    (map-side combinable min), one more reassembles per doc; nothing is
    ever all-pairs and no document's full text rides the shuffle — only
    segments and their (doc_id, pos) keys.

    The reference corpus is whitespace text, so segments are token
    windows; on real web text the same plan runs on sentence or line
    splits (the splitter is the only change)."""
    docs = _rpc(spark, f"{sf_dir}/documents.parquet")
    segs = (
        docs.selectExpr(
            "doc_id",
            "posexplode(transform("
            f"  sequence(0, CAST(ceil(size(split(text, ' ')) / {SEG_TOKENS}) AS INT) - 1),"
            f"  i -> array_join(slice(split(text, ' '), i * {SEG_TOKENS} + 1, {SEG_TOKENS}), ' ')"
            ")) AS (pos, seg)",
        )
        .where("seg != ''")
    )
    # corpus-wide first occurrence: min struct orders by doc_id then pos.
    # A WINDOW over seg (not a groupBy + self-join) keeps this at ONE scan
    # of the corpus and one seg-keyed shuffle — the self-join form read the
    # documents table twice (caught by the ReadSchema plan audit).
    from pyspark.sql import Window

    w = F.min(F.struct("doc_id", "pos")).over(Window.partitionBy("seg"))
    kept = segs.withColumn("w", w).withColumn(
        "keep",
        (F.col("doc_id") == F.col("w.doc_id"))
        & (F.col("pos") == F.col("w.pos")),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("keep"),
                               F.struct("pos", "seg")))),
                    lambda s: s["seg"]),
                " ").alias("clean_text"),
            F.sum(F.col("keep").cast("bigint")).alias("kept_segments"),
            F.sum((~F.col("keep")).cast("bigint")).alias("dropped_segments"),
        )
    )

# The unnest(range(0, 200)) index spine caps the oracle at 200 segments
# (= 200 × SEG_TOKENS tokens) per document, while the Spark side's
# sequence() is unbounded — mirror of the _bpe_oracle word-length cap.
# The `longest` CTE hard-fails (error()) if any fixture document
# (m IS NULL covers the empty table; m = 200 is fully covered by the
# 0..199 spine, so the cap is inclusive)
# would exceed the spine, so a cap overflow can never silently diverge.
SEGMENT_DEDUP_REWRITE_ORACLE = f"""
WITH longest AS (
    SELECT max(ceil(len(string_split(text, ' ')) / {SEG_TOKENS})) AS m
    FROM documents
),
guard AS (
    SELECT CASE WHEN m IS NULL OR m <= 200 THEN 1
           ELSE CAST(error('seg spine cap exceeded') AS BIGINT) END AS ok
    FROM longest
),
segs AS (
    SELECT doc_id, i AS pos,
           array_to_string(string_split(text, ' ')[i * {SEG_TOKENS} + 1
               : i * {SEG_TOKENS} + {SEG_TOKENS}], ' ') AS seg
    FROM documents,
         (SELECT unnest(range(0, 200)) AS i),
         guard
    WHERE ok = 1
      AND i < ceil(len(string_split(text, ' ')) / {SEG_TOKENS})
      AND array_to_string(string_split(text, ' ')[i * {SEG_TOKENS} + 1
              : i * {SEG_TOKENS} + {SEG_TOKENS}], ' ') != ''
),
winners AS (
    SELECT seg, min(struct_pack(doc_id := doc_id, pos := pos)) AS w
    FROM segs GROUP BY seg
),
kept AS (
    SELECT s.doc_id, s.pos, s.seg,
           (s.doc_id = w.w.doc_id AND s.pos = w.w.pos) AS keep
    FROM segs s JOIN winners w ON s.seg = w.seg
)
SELECT doc_id,
       coalesce(array_to_string(
           list_transform(
               list_sort(list(struct_pack(pos := pos, seg := seg))
                         FILTER (WHERE keep)),
               x -> x.seg),
           ' '), '') AS clean_text,
       CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS kept_segments,
       CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS dropped_segments
FROM kept
GROUP BY doc_id
"""
