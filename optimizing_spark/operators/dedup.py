"""Deduplication operators for training-data pipelines — first-class
engine components alongside the spatial suite:

- exact_dedup: md5-groupBy, keep the smallest doc key (one shuffle on
  the content hash; at 100 TB this is the classic hash-partitioned
  dedup, AQE-skew-safe because md5 keys are uniform).
- minhash_lsh_pairs: shingle -> minhash signature -> banding -> bucket
  join -> exact-jaccard verify. Candidate generation never crosses
  buckets, so the join is equi on (band_id, band_hash) — no O(n^2).
- simhash_pairs: Hamming-near signatures via exact-match on rotated
  bands (small-bits variant).
- ngram_jaccard: exact shingle-set jaccard for a given pair table
  (explode + join + group; returns integer intersection/union counts).
- connected_components: pair graph -> min-id cluster per doc (pointer
  jumping, O(log diameter) rounds) — the transitive-closure step that
  turns pairwise near-dups into "keep one per cluster" decisions.
- embedding near-duplicates live in similarity.embedding_neardup_pairs
  (banded random-hyperplane LSH; see similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def exact_dedup(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Keep one row (min key) per distinct text (md5 content hash)."""
    h = df.withColumn("_fp", F.md5(F.col(text)))
    keep = h.groupBy("_fp").agg(F.min(key).alias(key))
    return h.join(keep, ["_fp", key], "left_semi").drop("_fp")


def minhash_signatures(
    df: DataFrame, text: str = "text", n_perms: int = 16, k: int = 3
) -> DataFrame:
    """Signatures over word-k-gram shingles — the SAME k the exact
    verify uses (a signature domain diverging from the verified metric
    silently degrades recall)."""
    return df.withColumn("mh_sig", TX.minhash_signature_col(text, n_perms, k))


def _band_keys(sig: DataFrame, key: str, bands: int, rows: int) -> DataFrame:
    """(key, band, band_hash) keys of the minhash banding used by
    minhash_lsh_pairs."""
    return sig.select(
        F.col(key),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> slice(mh_sig, b * {rows} + 1, {rows}))"
            )
        ).alias("band", "band_sig"),
    ).withColumn("band_hash", F.expr(
        "aggregate(band_sig, cast(7 as bigint), (acc, x) -> (acc * 1048573 + x) % 2147483647)"
    )).drop("band_sig")


def _bucket_pairs(
    keyed: DataFrame, bucket_cols: list[str], key: str, max_bucket_rows: int
) -> DataFrame:
    """Distinct in-bucket (a < b) pairs. Cold buckets (<= max_bucket_rows
    rows) expand JVM-side from one collect_list per bucket; hot buckets
    are routed through an equi self-join (shuffle-partitioned pair
    expansion, no single-task array) so one skewed bucket cannot OOM an
    executor the way an unbounded collect_list can. The hot-key set is
    aggregated first and broadcast — it is tiny by construction (LSH
    keeps buckets small; hot keys are the exception being guarded)."""
    sizes = keyed.groupBy(*bucket_cols).agg(F.count("*").alias("_bn"))
    hot = sizes.filter(F.col("_bn") > max_bucket_rows).select(*bucket_cols)
    cold = keyed.join(F.broadcast(hot), bucket_cols, "left_anti")
    buckets = cold.groupBy(*bucket_cols) \
        .agg(F.collect_list(key).alias("_ids")).filter(F.size("_ids") >= 2)
    pairs_arr = F.expr("""
        flatten(transform(sequence(0, size(_ids) - 2),
            i -> transform(slice(_ids, i + 2, size(_ids) - i - 1),
                 x -> struct(least(element_at(_ids, i + 1), x) as a,
                             greatest(element_at(_ids, i + 1), x) as b))))
    """)
    cold_pairs = buckets.select(F.explode(pairs_arr).alias("_p")) \
        .select("_p.a", "_p.b")
    hot_rows = keyed.join(F.broadcast(hot), bucket_cols, "left_semi")
    lhs = hot_rows.select(*bucket_cols, F.col(key).alias("a"))
    rhs = hot_rows.select(*bucket_cols, F.col(key).alias("b"))
    hot_pairs = lhs.join(rhs, bucket_cols).filter(F.col("a") < F.col("b")) \
        .select("a", "b")
    return cold_pairs.unionByName(hot_pairs).distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n_perms: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_num: int = 8,
    jaccard_den: int = 10,
    max_bucket_rows: int = 4096,
) -> DataFrame:
    """Near-duplicate pairs (a < b) with exact shingle-set jaccard
    verification, expressed as integers: keep pairs with
    inter * jaccard_den >= union * jaccard_num.

    Banding: n_perms/bands rows per band; docs sharing ANY band land in
    the same bucket. Bucket join is equi on (band, hash-of-band).
    Returns (a, b, inter, uni).
    """
    rows = n_perms // bands
    sig = minhash_signatures(df.select(key, text), text, n_perms, k=shingle_k)
    # Shingle-less docs (< shingle_k tokens) carry the all-sentinel
    # signature: every one of them would land in the SAME bucket in
    # every band (a quadratic hot bucket of unrelated tiny docs) and a
    # pair of two such docs has inter=0, uni=0 — vacuously passing the
    # jaccard filter. They can never legitimately reach a positive
    # jaccard threshold, so drop them before banding. Sentinel check:
    # any real shingle yields sig[0] < M31; shingle-less == M31.
    sig = sig.filter(F.expr("element_at(mh_sig, 1) < 2147483647"))
    banded = _band_keys(sig, key, bands, rows)
    # candidate pairs: group each (band, hash) bucket once and expand
    # in-bucket pairs JVM-side — ONE evaluation of the signature
    # pipeline and one shuffle, vs a self-join that recomputes the
    # signatures on both sides. In-bucket expansion is quadratic in
    # bucket size by construction of LSH (those pairs ARE the output);
    # shingle-domain signatures keep buckets small. Buckets above
    # max_bucket_rows are routed through an equi self-join instead of
    # being materialized as one array in a single task (OOM guard).
    cand = _bucket_pairs(banded, ["band", "band_hash"], key, max_bucket_rows)
    verified = ngram_jaccard(df, cand, text=text, key=key, k=shingle_k)
    return verified.filter(
        F.col("inter") * jaccard_den >= F.col("uni") * jaccard_num
    )


def ngram_jaccard(
    df: DataFrame, pairs: DataFrame, text: str = "text", key: str = "doc_id", k: int = 3
) -> DataFrame:
    """Exact jaccard counts of word-k-gram shingle SETS for each (a, b)
    pair: returns (a, b, inter, uni) — integers, oracle-exact. Docs
    with fewer than k tokens have zero shingles; pairs touching them
    survive with inter=0 and uni = the other side's size (left joins +
    coalesce — an inner join on sizes would silently drop them)."""
    sh = df.select(
        F.col(key), F.explode(F.array_distinct(TX.shingles_col(text, k))).alias("s")
    )
    sizes = sh.groupBy(key).agg(F.count("*").alias("n"))
    pa = pairs.join(sh.withColumnRenamed(key, "a"), "a") \
        .join(sh.withColumnRenamed(key, "b").withColumnRenamed("s", "s2"), "b") \
        .filter(F.col("s") == F.col("s2"))
    inter = pa.groupBy("a", "b").agg(F.count("*").alias("inter"))
    out = (
        pairs.join(inter, ["a", "b"], "left")
        .withColumn("inter", F.coalesce(F.col("inter"), F.lit(0)))
        .join(sizes.select(F.col(key).alias("a"), F.col("n").alias("_na")), "a", "left")
        .join(sizes.select(F.col(key).alias("b"), F.col("n").alias("_nb")), "b", "left")
        .withColumn("_na", F.coalesce(F.col("_na"), F.lit(0)))
        .withColumn("_nb", F.coalesce(F.col("_nb"), F.lit(0)))
        .withColumn("uni", F.col("_na") + F.col("_nb") - F.col("inter"))
        .select("a", "b", "inter", "uni")
    )
    return out


def connected_components(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    vertices: DataFrame | None = None,
    key: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components: every vertex gets
    ``cluster_id`` = the minimum vertex id reachable through the pair
    graph (isolated vertices map to themselves). This is the canonical
    step after LSH pair generation — "keep one doc per component" is
    what production dedup actually ships, and pairwise output alone
    under-deletes transitive duplicate chains (a~b, b~c but not a~c).

    Algorithm: min-label propagation with pointer jumping (the
    alternating-star family of Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public literature). Each round
    (1) pulls the min label across edges, (2) shortcuts each label to
    its label's label. Pointer jumping halves chain depth per round, so
    rounds = O(log diameter) instead of O(diameter) — a 1M-link chain
    converges in ~20 rounds, not 1M. Per round: two equi-joins + one
    min-agg on uniform integer keys (AQE-safe, broadcast-free), and a
    localCheckpoint to truncate lineage so the plan stays shallow under
    any optimizer config. Convergence is a count of changed labels —
    one small driver action per round, inherent to iterative fixpoints
    (same trade documented for knn_join's bound pass).

    Returns (``key``, cluster_id); deterministic for any edge order.
    """
    e = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint()
    # only vertices touched by an edge can ever change label — iterate
    # over the pair graph alone (typically ≪ the corpus: most docs have
    # no near-dup) and union the isolated vertices back at the end
    touched = edges.select(F.col("u").alias("node")).distinct()
    lab = touched.select("node", F.col("node").alias("lbl")).localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            edges.join(lab.withColumnRenamed("node", "v"), "v")
            .groupBy("u").agg(F.min("lbl").alias("nlbl"))
            .withColumnRenamed("u", "node")
        )
        pulled = lab.join(nbr, "node", "left").select(
            "node", F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl"))
        jump = pulled.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("lbl2"))
        new = pulled.join(jump, "lbl", "left").select(
            "node", F.least("lbl", F.coalesce("lbl2", "lbl")).alias("lbl"))
        new = new.localCheckpoint()
        changed = (
            new.join(lab.withColumnRenamed("lbl", "_old"), "node")
            .filter(F.col("lbl") != F.col("_old")).limit(1).count()
        )
        lab = new
        if changed == 0:
            break
    out = lab
    if vertices is not None:
        verts = vertices.select(F.col(key).alias("node")).distinct()
        out = verts.join(lab, "node", "left").select(
            "node", F.coalesce("lbl", F.col("node")).alias("lbl"))
    return out.select(F.col("node").alias(key), F.col("lbl").alias("cluster_id"))


def curate_corpus(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    min_tokens: int = 20,
    min_quality: int = 60,
    lang: str = "en",
    bloom_prune: bool = False,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end corpus curation — the composition a training-data
    pipeline actually ships, as ONE lazy plan:

      1. quality gate: n_tokens >= min_tokens AND quality_score >=
         min_quality (functions/text.quality_cols — JVM expressions),
      2. language gate: lang_guess == lang,
      3. exact dedup over the gated set (min key per md5 content hash),
      4. near-duplicate removal: drop the higher-id member (``b``) of
         every LSH-verified near-dup pair via a left-anti join.

    Near-dup pairs are computed over the FULL corpus, not the gated
    subset: content duplication is a property of the corpus, and the
    drop-b rule must not depend on whether the pair's canonical member
    happened to clear the quality gates (a filter-dependent rule would
    resurrect duplicates whenever thresholds move).

    Scale shape: every stage is an equi-join or hash agg on uniform
    keys (md5 / doc id / LSH bucket); the anti-join's right side is the
    distinct b-set of verified pairs — bounded by the near-dup rate,
    typically orders of magnitude below the corpus. Nothing here is
    quadratic; the LSH candidate stage is the bucketed one from
    minhash_lsh_pairs.

    ``bloom_prune=True`` replaces the final anti join with
    functions.sketches.bloom_anti_join: a materialized 8 KB bloom of
    the drop set routes provably-clean survivors around the anti
    join's exchange map-side, so only ~|drop| + fp-rate rows shuffle —
    the prefilter for the 100 TB regime where the drop set outgrows a
    broadcast. Identical output (the bloom has no false negatives and
    the exact anti join removes false positives). Two trades: (a) the
    call becomes EAGER — bloom_anti_join runs the LSH drop-set plan
    once (localCheckpointed inside, so once, not per-use) and the
    bloom-build jobs at construction time, so this branch is not "one
    lazy plan"; (b) the gated-dedup subplan evaluates twice (both
    passes map-side only — persist/store it first if that matters more
    than the exchange, as bench.py --bloom does).

    Returns the surviving rows of ``df`` with n_tokens, quality_score
    and the language guess attached.
    """
    q = TX.quality_cols(df, text).withColumn("_lg", TX.lang_guess_col(text))
    keep = q.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("quality_score") >= min_quality)
        & (F.col("_lg") == lang)
    )
    ded = exact_dedup(keep, text=text, key=key)
    pairs = minhash_lsh_pairs(df, text=text, key=key, **lsh_kwargs)
    drop = pairs.select(F.col("b").alias(key)).distinct()
    if bloom_prune:
        from ..functions import sketches as SK

        return SK.bloom_anti_join(ded, drop, key)
    return ded.join(drop, key, "left_anti")


def simhash_pairs(
    df: DataFrame, text: str = "text", key: str = "doc_id",
    bits: int = 16, max_hamming: int = 2, max_bucket_rows: int = 4096,
) -> DataFrame:
    """Candidate pairs whose simhash signatures differ in <= max_hamming
    bits, via the pigeonhole split: the bit space divides into
    (max_hamming+1) contiguous blocks of bits // (max_hamming+1) bits,
    and two signatures within max_hamming Hamming distance must agree
    on at least one whole block — so bucketing on each block's value
    catches every qualifying pair, then the exact Hamming filter
    verifies.

    Candidates come from per-bucket pair expansion (one evaluation of
    the signature pipeline, one shuffle) with the same hot-bucket
    self-join guard as minhash_lsh_pairs — relevant here because every
    empty doc hashes to simhash 0 and shares one bucket (those pairs
    ARE duplicates — identical empty texts — but the bucket must not
    materialize as a single-task array)."""
    sig = df.select(key, TX.simhash_col(text, bits).alias("sh"))
    blocks = max_hamming + 1
    block_bits = bits // blocks
    keyed = sig.select(
        F.col(key),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {blocks - 1}), "
                f"b -> (sh >> (b * {block_bits})) % {1 << block_bits})"
            )
        ).alias("block", "block_val"),
    )
    cand = _bucket_pairs(keyed, ["block", "block_val"], key, max_bucket_rows)
    sa = sig.select(F.col(key).alias("a"), F.col("sh").alias("sha"))
    sb = sig.select(F.col(key).alias("b"), F.col("sh").alias("shb"))
    j = cand.join(sa, "a").join(sb, "b")
    ham = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return j.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming) \
        .select("a", "b", "hamming")
