"""Deduplication operators over the ``documents`` table.

Training-data-pipeline surface (north-star extension; SURVEY.md §7 step 8):
exact dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash.

Scale design (100 TB posture):
- exact dedup groups on a 128-bit digest of the normalized text, never on the
  raw text — the shuffle key is 16 bytes, not the document;
- n-gram Jaccard generates DISTINCT shingles per doc and self-joins on the
  shingle; hot shingles are capped by document frequency (``max_df``) so a
  stop-shingle cannot create a quadratic join blowup;
- MinHash compresses each doc to a fixed 64-signature before any join; LSH
  banding turns all-pairs similarity into an equality join on (band, hash) —
  the canonical sub-quadratic near-dup algorithm;
- SimHash compresses to one 48-bit value; exact-bucket candidates only.

MinHash/SimHash use ``xxhash64`` (engine-specific bit patterns) so they carry
no DuckDB oracle — the driver records rows-only checks for them; the Jaccard
verification joined onto MinHash candidates is exact, engine-neutral math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hands_on_iceberg_compression_spark.operators import Query
from hands_on_iceberg_compression_spark.sources.fixtures import load_table

NGRAM_N = 3
TOPK_PAIRS = 50
# Hot-shingle document-frequency cap: a shingle shared by more than
# NGRAM_MAX_DF documents is a stop-shingle and is dropped before the
# self-join, bounding its pair contribution at MAX_DF^2/2 instead of
# corpus^2/2.  At fixture scale the observed max DF is 7 (sf0.01) so the
# cap is result-neutral there; it exists for the 100 TB posture.
NGRAM_MAX_DF = 100
MINHASH_PERMS = 64
LSH_BANDS = 16  # 16 bands x 4 rows
MINHASH_JACCARD_THRESHOLD = 0.8  # trigram-shingle Jaccard; true dups ~0.99


def _norm_text():
    return F.lower(F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")))


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: keep min doc_id per content digest."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy(F.md5(_norm_text().cast("binary")).alias("fingerprint"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def q_dedup_exact_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(_norm_text()).alias("n_unique"),
    )


def _word_trigram_hashes(words):
    """DISTINCT word-3-gram HASHES (``xxhash64(w_i, w_{i+1}, w_{i+2})``,
    Spark's multi-arg chaining); empty bigint array for docs shorter than N
    tokens.

    IMPORTANT: pass a *materialized column reference* (project the split
    array first), not the split expression itself — higher-order-function
    lambdas are interpreted (no codegen, no CSE), so an inlined split would
    re-tokenize the document for every element_at call: O(len^2) per doc
    (measured 5.6s -> 0.6s at sf0.1 for shingle generation).

    r19: hashing the three words directly replaced the previous
    build-a-"w1 w2 w3"-string-then-hash shape — no per-gram string
    allocation, array_distinct deduplicates 8-byte longs instead of
    ~25-char strings, and downstream set ops (array_intersect/union in the
    exact-Jaccard verify) compare longs.  Trigram-set semantics are
    unchanged w.h.p. (space-joining words is injective, so string-distinct
    == tuple-distinct; a 2^-64 hash collision is the same risk class the
    hashed join keys always carried).  Measured: shingle pass 0.48 -> 0.26 s,
    full ngram-Jaccard query 3.14 -> 1.88 s at sf0.1, results identical."""
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(NGRAM_N - 1)),
        lambda i: F.xxhash64(
            F.element_at(words, i), F.element_at(words, i + 1), F.element_at(words, i + 2)
        ),
    )
    return F.array_distinct(
        F.when(n >= NGRAM_N, grams).otherwise(F.array().cast("array<bigint>"))
    )


def _with_trigram_hashes(docs: DataFrame, out: str = "grams") -> DataFrame:
    """doc_id + distinct-trigram-hash array, with the token split
    materialized in its own projection so the HOF sees a column, not an
    expression."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    return toks.select("doc_id", _word_trigram_hashes(F.col("words")).alias(out))


def _shingle_df(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) exploded distinct trigram hashes — the join/shuffle key
    is 8 bytes and counts match the raw-string-shingle counts w.h.p. (a
    2^-64 collision changes one count by one)."""
    # exact shape matters: explode(trigrams(words_col)) directly over the
    # words projection keeps the split materialized (0.6s at sf0.1); an
    # intermediate grams projection lets the optimizer re-inline the split
    # into the interpreted HOF lambda (9.5s)
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    return toks.select(
        "doc_id", F.explode(_word_trigram_hashes(F.col("words"))).alias("sh")
    )


def q_ngram_jaccard_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k most similar doc pairs by word-3-gram Jaccard.

    shingle self-join -> common counts; |A ∪ B| = |A| + |B| - common.
    Deterministic order: (jaccard desc, doc_a, doc_b).  Set sizes are
    computed inline from the array (no extra shuffle) and broadcast.

    Stop-shingles (document frequency > NGRAM_MAX_DF) are dropped before
    the self-join via a window count over ``sh`` — one shuffle, hash-
    partitioned on the same key the join needs, so the exchange is reused.
    Union sizes stay uncapped (mirrored exactly in the oracle).

    The trigram projection is generated ONCE and materialized
    (localCheckpoint): the window input, the join sides, and the set-size
    frame all read the materialized (doc_id, grams) rows instead of
    re-tokenizing the corpus per consumer.  Interleaved A/B at sf0.1:
    warm best-of-4 2.35 s vs 2.36 s rescan (a wash on a page-cached
    source) but 3.4 s vs 9.0 s on the cold first run — the checkpoint
    wins exactly where the corpus scan is not cached, which is the
    cluster case; kept for that posture."""
    docs = load_table(spark, sf, "documents")
    from pyspark.sql.window import Window

    words = _with_trigram_hashes(docs).localCheckpoint(eager=True)
    sh_all = words.select("doc_id", F.explode(F.col("grams")).alias("sh"))
    sh = (
        sh_all.withColumn("df", F.count("*").over(Window.partitionBy("sh")))
        .filter(F.col("df") <= NGRAM_MAX_DF)
        .select("doc_id", "sh")
        # r20: materialize the filtered shingles before the self-join — the
        # executed plan's self-join is a BroadcastHashJoin whose build side
        # REBUILT the whole explode+window subtree (its executed plan,
        # ops 12-17); the checkpoint runs the window ONCE and both join sides
        # read (doc_id, sh) longs.  Interleaved A/B at sf0.1: 1.816 ->
        # 1.569 s (-14%), top-50 identical.  (localCheckpoint is executor-
        # local/non-reliable — on a lossy cluster swap for persist(DISK).)
        .localCheckpoint(eager=True)
    )
    sizes = words.select("doc_id", F.size(F.col("grams")).alias("n_sh"))

    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        common.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), F.col("doc_a"), F.col("doc_b"))
        .limit(TOPK_PAIRS)
    )


def _verified_near_dup_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) near-dup pairs: MinHash signature -> LSH band
    buckets -> candidate equi-join -> exact-Jaccard verify -> threshold.

    Shingles, not word sets: documents drawn from a small vocabulary share
    nearly all *words* (set-Jaccard ~1 for everything — quadratic candidate
    blowup), while 3-gram *sequences* discriminate (true near-dups ~0.99,
    random pairs ~0).  The trigram is hashed ONCE (direct 3-word xxhash64,
    no shingle string built — r19); each permutation re-hashes the 8-byte
    long, not the string — 64x less string hashing in the hot loop.

    The 16 band buckets are a literal column array (codegen'd), not a
    transform() lambda — HOF lambdas are interpreted.  Negative results on
    file (kept so they are not re-tried): (a) checkpoint-the-trigrams-once
    (2.39 s rescan vs 2.74 s checkpointed warm at sf0.1 — on a page-cached
    source the re-scan fuses into codegen; revisit persist() when the scan
    is remote IO); (b) r19 xor-rotate signature family (min over
    h1^rotl(h2,i) instead of 64 xxhash64 calls: 1.28 s vs 1.13 s — the agg
    machinery, not the hash, bounds the signature stage); (c) r19 semi-
    join-pruned exact verify (checkpoint cands, trigram only candidate
    docs: 3.08 s vs 2.95 s — the checkpoint barrier + extra jobs cost more
    than the saved trigram compute on a page-cached 5k-doc corpus; the
    pruning becomes the right shape when the corpus scan is remote and the
    candidate fraction is small)."""
    sh = _shingle_df(docs)
    aggs = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}")
        for i in range(MINHASH_PERMS)
    ]
    sig = (
        sh.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[F.col(f"h{i}") for i in range(MINHASH_PERMS)]).alias("sig"),
        )
    )

    rows_per_band = MINHASH_PERMS // LSH_BANDS
    # band bucket = ONE long: multi-arg xxhash64 of (band id, signature
    # slice).  r19 removed the concat_ws string; r20 removes the (band int,
    # bucket long) STRUCT — hashing the band id INTO the bucket makes the
    # explode a bare long array (no per-row struct alloc, no struct field
    # extraction projection) and the candidate self-join a single-long-key
    # equi-join instead of a two-key one.  Band distinctness is preserved
    # w.h.p. (a cross-band collision is the same 2^-64 class the hashed
    # trigram/bucket keys already carry, and every candidate still passes
    # the exact-Jaccard verify).  Measured interleaved at sf0.1: full
    # verified pairs 2.243 -> 1.787 s (-20%), results identical.  Negative
    # result (same session): localCheckpoint'ing the bands frame before the
    # self-join is a WASH (2.243 s) — AQE reuses the signature exchange at
    # runtime, so the barrier buys nothing and costs the checkpoint write.
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.element_at(F.col("sig"), b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bkt"),
    )

    a = bands.alias("a")
    b = bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # exact verify on trigram-HASH sets (longs): intersection/union counts
    # equal the string-set counts w.h.p. and compare 8-byte values instead
    # of ~25-char strings
    words = _with_trigram_hashes(docs, "ws")
    wa = words.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a"))
    wb = words.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b"))
    inter = F.size(F.array_intersect(F.col("ws_a"), F.col("ws_b")))
    union = F.size(F.array_union(F.col("ws_a"), F.col("ws_b")))
    return (
        cands.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= MINHASH_JACCARD_THRESHOLD)
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash + LSH banding candidates, verified with exact shingle Jaccard.

    Pipeline: signature (1 shuffle, fixed 512B/doc) -> band explode -> bucket
    equality join (sub-quadratic) -> exact verify on candidates only.
    Engine-specific hashing -> rows-only driver check; the jaccard column
    itself is exact math."""
    docs = load_table(spark, sf, "documents")
    return _verified_near_dup_pairs(docs).orderBy(
        F.col("jaccard").desc(), "doc_a", "doc_b"
    )


CC_ITERS = 6  # max min-label propagation rounds; near-dup components are tiny
               # (dup clusters), so diameter << CC_ITERS at any corpus size


def _cc_labels(sym: DataFrame, max_iters: int = CC_ITERS) -> DataFrame:
    """Min-label propagation to FIXPOINT over a symmetric edge frame
    ``(doc_a, doc_b)``; returns ``(v, label)``.

    Convergence is verified, not assumed (VERDICT r2 #4): each round counts
    changed labels (one cheap action — the frame is already
    localCheckpoint'd) and stops early at zero; if labels still change after
    ``max_iters`` rounds the component diameter exceeded the budget and we
    RAISE instead of silently splitting a cluster.  For graphs with deep
    components swap this for the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce"), which converges
    in O(log^2 n) rounds; near-dup graphs never need it."""
    labels = (
        sym.select(F.col("doc_a").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neigh = (
            sym.join(labels, sym.doc_b == labels.v)
            .groupBy(F.col("doc_a").alias("v2"))
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neigh, labels.v == F.col("v2"), "left")
            .select(
                "v",
                F.col("label").alias("prev"),
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
            )
            # labels_{i+1} references labels_i twice (directly and through
            # neigh) — without truncation the plan doubles every round
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("label") != F.col("prev")).count()
        labels = stepped.select("v", "label")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected components did not converge in {max_iters} min-label "
        f"rounds (a component's diameter exceeds the budget); raise CC_ITERS "
        f"or switch to large-star/small-star alternation"
    )


def q_dedup_cluster_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTERS via connected components over the verified
    MinHash-LSH pair graph — the operator that turns pairwise near-dups into
    survivor selection (keep one doc per component).

    Iterative min-label propagation TO VERIFIED FIXPOINT (see ``_cc_labels``):
    each round, every vertex takes the min label among itself and its
    neighbors — one join + one groupBy per round, all shuffles on the doc_id
    key — stopping when a round changes zero labels and RAISING if the
    CC_ITERS budget is exhausted first.  Dup-cluster diameter is small by
    construction (near-dup similarity is ~transitive at 0.8 Jaccard), so the
    fixpoint arrives in 2-3 rounds in practice.
    Engine-specific hashing upstream -> rows-only driver check.

    Lineage discipline (the iterative-algorithm rule): the edge graph is
    materialized ONCE (localCheckpoint) and the label frame's lineage is
    truncated every round — without this the unrolled plan embeds the
    whole upstream LSH pipeline 2^iters times and OOMs the driver during
    planning, at any data size."""
    docs = load_table(spark, sf, "documents")
    # materialize the verified pairs ONCE before the symmetric closure —
    # a union whose two branches both reference the un-materialized pair
    # pipeline executes the whole LSH+verify plan twice (r19; the same
    # double-evaluation class as the iterative-lineage rule below)
    edges = (
        _verified_near_dup_pairs(docs)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    # symmetric closure once; labels ride on the vertex set of the edge graph
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint(eager=True)
    labels = _cc_labels(sym)
    return (
        labels.groupBy(F.col("label").alias("cluster_id"))
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


SIMHASH_BITS = 48


def _simhash_df(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 48-bit bitwise-majority signature per document.

    r19: each bit aggregate is a bare ``sum((h >> j) & 1)`` plus one shared
    ``count(*)`` — the previous per-bit ``when(bit==1, 1).otherwise(-1)``
    CASE is equivalent (sum(±1) > 0  ⟺  2·ones > n) but evaluated a branch
    per token per bit.  Signature values are IDENTICAL (majority rule
    unchanged; the recompute pin needed no update)."""
    toks = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    h = F.xxhash64(F.col("w"))
    bit_aggs = [
        F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1))).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("n"), *bit_aggs)
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"b{j}") * 2 > F.col("n"), F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.alias("simhash"))


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """48-bit SimHash per document (bitwise majority over token hashes).

    One groupBy with 48 conditional-sum aggregates — fully codegen'd, one
    shuffle of 48 ints per doc.  Engine-specific hashing -> rows-only check."""
    return _simhash_df(load_table(spark, sf, "documents"))


SIMHASH_BANDS = 4  # 4 bands x 12 bits: pairs within HAMMING_MAX distance
HAMMING_MAX = 3    # share at least one exact band w.h.p. (pigeonhole: any
                   # <=3 flipped bits leave >=1 of 4 bands untouched)


def q_simhash_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs: banded blocking + Hamming verify.

    Pigeonhole guarantee, not probability: a pair with Hamming distance
    <= SIMHASH_BANDS-1 MUST share at least one exact 12-bit band, so the
    band equi-join (sub-quadratic, 8-byte keys) has recall 1.0 for
    HAMMING_MAX <= 3; the verify step is one xor+bit_count per candidate.
    Engine-specific hashing -> rows-only driver check."""
    docs = load_table(spark, sf, "documents")
    sims = _simhash_df(docs).localCheckpoint(eager=True)  # reused by both join sides
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
        .orderBy("hamming", "doc_a", "doc_b")
    )


def keep_latest(
    df: DataFrame,
    key_cols: list[str] = ["user_id", "event_type"],
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> DataFrame:
    """One survivor row per key: newest ``ts_col`` wins, ``tie_col`` breaks
    ties deterministically.  THE single source of the CDC keep-latest
    ordering — q_dedup_keep_latest, the streaming merge_upsert sink, and
    their convergence test all call this so the tie-break cannot drift
    between twins."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(), F.col(tie_col).desc()
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).drop("_rn")


def q_dedup_keep_latest(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-latest dedup: one survivor row per (user_id, event_type), newest
    ts wins, event_id as the deterministic tie-break.  The snapshot/upsert
    compaction shape every CDC-fed training corpus needs; a single
    row_number window = one shuffle on the dedup key at 100 TB (no
    self-join, no global sort)."""
    ev = load_table(spark, sf, "events")
    return keep_latest(ev).select("user_id", "event_type", "event_id", "ts", "value")


LEV_BUCKET_CHARS = 32  # length-bucket width for the blocked edit-distance join
LEV_MAX_DIST_FRAC = 0.3  # pair admitted when lev <= frac * max(len_a, len_b)


def q_dedup_levenshtein_blocked(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy near-dup pairs by edit distance, blocked so the quadratic
    levenshtein never sees the full pair space: candidates must share
    (lang, length bucket) — an equi-join on a compact key — before the
    per-pair distance runs.  The standard blocking/record-linkage shape.

    Recall < 1 by construction (a near-dup pair straddling a bucket
    boundary is unseen — same contract as LSH banding; widen with
    neighboring-bucket keys for recall at the cost of candidate volume).
    At 100 TB the blocking key bounds every bucket's pair count to
    |bucket|^2, and buckets are (lang x length-band) cells, so the worst
    cell — not the corpus — sets the cost.

    r20: the per-pair distance runs BANDED — ``levenshtein(a, b, thr)``
    (Spark 3.5+) computes only the |i-j| <= thr diagonal band, O(len·thr)
    instead of O(len²), returning -1 above the bound and the TRUE distance
    otherwise.  ``thr = floor(0.3·max)+1`` is a provable superset of the
    admit predicate (an admitted pair has dist <= 0.3·max + fp-eps <
    floor+1), and the final filter is the ORIGINAL unrounded-fraction
    expression evaluated on the recovered exact distance — results are
    structurally identical (verified value-equal at sf0.01 AND sf0.1; the
    DuckDB oracle is unchanged).  Measured at sf0.1: 386.5 -> 117.3 s
    (3.3x) — the banded algorithm also early-exits once the band minimum
    exceeds thr, which is the common case for non-duplicate pairs."""
    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    bucket = F.floor(F.length("text") / LEV_BUCKET_CHARS)
    t = docs.select("doc_id", "lang", "text", bucket.alias("bucket"))
    a = t.select(
        F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"),
        F.col("text").alias("text_a"), F.col("bucket").alias("bucket_a"),
    )
    b = t.select(
        F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"),
        F.col("text").alias("text_b"), F.col("bucket").alias("bucket_b"),
    )
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    dist = F.expr(
        f"levenshtein(text_a, text_b, cast(floor({LEV_MAX_DIST_FRAC} * "
        f"greatest(length(text_a), length(text_b))) + 1 as int))"
    )
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("bucket_a") == F.col("bucket_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", max_len.alias("mx"), dist.alias("d"))
        # admit on the UNROUNDED fraction (the oracle's WHERE is unrounded
        # too — filtering on the rounded projection would admit a pair the
        # oracle rejects once raw fractions land inside the rounding step);
        # d >= 0 folds the banded -1 sentinel into the same predicate
        .filter((F.col("d") >= 0) & (F.col("d") / F.col("mx") <= LEV_MAX_DIST_FRAC))
        .select(
            "id_a", "id_b", F.col("d").alias("edit_dist"),
            F.round(F.col("d") / F.col("mx"), 4).alias("dist_frac"),
        )
    )


def q_dedup_materialize(spark: SparkSession, sf: str) -> DataFrame:
    """Materialize the deduplicated corpus: full survivor rows (min doc_id
    per content digest), not just ids — the step that actually writes the
    clean dataset.  The digest groupBy shrinks to one 16-byte key + one id
    per unique document; the join back to full rows keys on doc_id, so
    heavyweight text payloads cross the wire once, only for survivors."""
    docs = load_table(spark, sf, "documents")
    digest = F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), "\\s+", " "))))
    survivors = (
        docs.select(digest.alias("d"), "doc_id")
        .groupBy("d")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        docs.join(survivors, "doc_id", "left_semi")
        .select("doc_id", "lang", "source", "n_chars")
    )


def q_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history: each event becomes a versioned row with a validity
    interval [ts, next ts for the same key) and an is_current flag — the
    slowly-changing-dimension twin of ``dedup_keep_latest`` (which returns
    only the final version).  One shuffle on the key; lead() runs inside
    the same sort the shuffle already established."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        ev.select(
            "user_id",
            "event_type",
            "event_id",
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
            "value",
        )
    )


QUERIES: dict[str, Query] = {
    "dedup_materialize": Query(
        q_dedup_materialize,
        """
WITH survivors AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN survivors USING (doc_id)
""",
        "materialized dedup survivors (full rows of the clean corpus)",
    ),
    "scd2_history": Query(
        q_scd2_history,
        """
SELECT user_id, event_type, event_id, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current,
       value
FROM events
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
""",
        "SCD2 validity intervals per key (versioned history, lead window)",
    ),
    "dedup_levenshtein_blocked": Query(
        q_dedup_levenshtein_blocked,
        f"""
WITH t AS (
  SELECT doc_id, lang, text,
         CAST(floor(length(text) / {LEV_BUCKET_CHARS}.0) AS BIGINT) AS bucket
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.text, b.text) AS edit_dist,
       round(CAST(levenshtein(a.text, b.text) AS DOUBLE)
             / greatest(length(a.text), length(b.text)), 4) AS dist_frac
FROM t a JOIN t b
  ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE CAST(levenshtein(a.text, b.text) AS DOUBLE)
      / greatest(length(a.text), length(b.text)) <= {LEV_MAX_DIST_FRAC}
""",
        "blocked edit-distance near-dup pairs (lang x length-band blocking)",
    ),
    "dedup_keep_latest": Query(
        q_dedup_keep_latest,
        "SELECT user_id, event_type, event_id, ts, value FROM ("
        "  SELECT user_id, event_type, event_id, ts, value, "
        "         row_number() OVER (PARTITION BY user_id, event_type "
        "                            ORDER BY ts DESC, event_id DESC) AS rn "
        "  FROM events) WHERE rn = 1",
        "keep-latest dedup per (user_id, event_type) — CDC snapshot shape",
    ),
    "dedup_exact": Query(
        q_dedup_exact,
        "SELECT min(doc_id) AS doc_id FROM documents "
        "GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))",
        "exact dedup: survivor ids per content digest",
    ),
    "dedup_exact_stats": Query(
        q_dedup_exact_stats,
        "SELECT count(*) AS n_docs, "
        "count(DISTINCT lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) "
        "AS n_unique FROM documents",
        "exact dedup: corpus dup-rate stats",
    ),
    "dedup_ngram_jaccard": Query(
        q_ngram_jaccard_topk,
        f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM toks, unnest(generate_series(1, len(w) - {NGRAM_N - 1})) AS t(i)
  WHERE len(w) >= {NGRAM_N}
), shf AS (
  SELECT doc_id, sh FROM (
    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh
  ) WHERE df <= {NGRAM_MAX_DF}
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY jaccard DESC, doc_a, doc_b LIMIT {TOPK_PAIRS}
""",
        "n-gram Jaccard near-dup: top-k most similar pairs",
    ),
    "dedup_minhash_lsh": Query(
        q_minhash_lsh_pairs,
        None,  # engine-specific hashing; rows-only driver check
        "MinHash+LSH near-dup candidates with exact-Jaccard verification",
    ),
    "dedup_simhash": Query(
        q_simhash,
        None,  # engine-specific hashing; rows-only driver check
        "SimHash document signatures",
    ),
    "dedup_cluster_sizes": Query(
        q_dedup_cluster_sizes,
        None,  # hashing upstream + iterative; rows-only driver check
        "near-dup cluster-size histogram via connected components",
    ),
    "dedup_simhash_near_dup": Query(
        q_simhash_near_dup,
        None,  # engine-specific hashing; rows-only driver check
        "SimHash near-dup pairs (banded blocking, recall-1 Hamming verify)",
    ),
}
