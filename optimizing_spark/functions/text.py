"""Text-analysis primitives for large-scale training-data pipelines:
tokenization, portable token hashing, shingling, language-ID heuristic,
quality scoring, fingerprinting.

Everything is JVM-side column expressions (split/transform/filter/
aggregate — whole-stage where possible); the token hash is md5-based so
a DuckDB oracle can reproduce it bit-for-bit:
    h(t) = bigint(hex_prefix_15(md5(t)))  in [0, 2^60)
    h'(t) = h(t) % MERSENNE31             for overflow-safe permutations
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE31 = 2147483647  # 2^31 - 1

# (a, b) permutation constants for minhash (fixed, shared with oracles).
# a < 2^20 so a * h' (h' < 2^31) stays far below 2^63 under ANSI mode.
MINHASH_PERMS: list[tuple[int, int]] = [
    (876847, 1284865837), (225739, 2038074743), (604541, 961748927),
    (214467, 1500450271), (847539, 982451653), (587883, 1413431699),
    (491317, 2147483629), (203161, 122949823), (451707, 86028121),
    (650939, 433024223), (419813, 533000389), (651349, 472882027),
    (707777, 105097513), (28157, 715225741), (74751, 492876863),
    (748941, 334214459),
]


def tokens_col(text: str = "text") -> Column:
    """Whitespace tokens, empties removed (BPE-ish splitting is regex
    here; swap the pattern for a real tokenizer's pre-tokenize rule)."""
    return F.expr(f"filter(split(trim({text}), '\\\\s+'), t -> t != '')")


def token_hash_expr(tok_expr: str) -> str:
    """SQL fragment: portable 60-bit md5-prefix hash of a token."""
    return f"cast(conv(substr(md5({tok_expr}), 1, 15), 16, 10) as bigint)"


def shingles_sql(text: str = "text", k: int = 3) -> str:
    """SQL fragment: word k-gram shingle strings (space-joined). Spark
    arrays are 0-indexed via element_at(arr, i+1); we use bracket-free
    element_at so the DuckDB twin (1-indexed lists) lines up.

    The token array is BOUND once via transform(array(toks), tk -> ...)
    — a lambda-variable let-binding. Inlining the split into every
    element_at (the naive form) re-splits the whole text k times per
    shingle position: O(k * positions) regex splits per document."""
    toks = f"filter(split(trim({text}), '\\\\s+'), t -> t != '')"
    parts = ", ' ', ".join(f"element_at(tk, i + {j})" for j in range(1, k + 1))
    inner = (
        f"CASE WHEN size(tk) >= {k} THEN "
        f"transform(sequence(0, size(tk) - {k}), i -> concat({parts})) "
        f"ELSE array() END"
    )
    return f"element_at(transform(array({toks}), tk -> {inner}), 1)"


def shingles_col(text: str = "text", k: int = 3) -> Column:
    return F.expr(shingles_sql(text, k))


def minhash_signature_col(text: str = "text", n_perms: int = 16, k: int = 3) -> Column:
    """Array of n_perms minhash values over the SAME word k-gram shingle
    set the exact-jaccard verify uses (min over a multiset equals min
    over the set): sig_i = min over shingles of (a_i * h'(s) + b_i) % M31.
    Shingle-less docs (< k tokens) get M31 (sentinel) in every slot.

    Signature domain matters: hashing unigram TOKENS here (round-1
    behavior) collapses any small-vocabulary corpus into a handful of
    hot LSH buckets (at sf0.1: one bucket held half the table -> 6.2M
    candidate pairs from 5k docs), because token SETS converge long
    before shingle sets do. Minhash must approximate the metric the
    verify measures.

    Single-fold form: the md5 shingle hash runs ONCE per shingle; all
    n_perms running minima update in one zip_with against constant
    coefficient arrays."""
    hashes = f"transform({shingles_sql(text, k)}, " \
             f"t -> {token_hash_expr('t')} % {MERSENNE31})"
    a_arr = "array(" + ", ".join(str(a) for a, _ in MINHASH_PERMS[:n_perms]) + ")"
    b_arr = "array(" + ", ".join(str(b) for _, b in MINHASH_PERMS[:n_perms]) + ")"
    return F.expr(f"""aggregate(
        {hashes},
        array_repeat(cast({MERSENNE31} as bigint), {n_perms}),
        (acc, h) -> zip_with(acc, sequence(0, {n_perms - 1}),
            (m, i) -> least(m, (h * element_at({a_arr}, i + 1)
                               + element_at({b_arr}, i + 1)) % {MERSENNE31})))""")


def simhash_col(text: str = "text", bits: int = 16) -> Column:
    """bits-wide simhash over token hashes: bit b set iff
    sum over tokens of (2*bit_b(h') - 1) >= 0 (ties -> set, empty -> 0).

    Single-fold form: the md5 token hash is evaluated ONCE per token
    (the hash array appears exactly once in the expression; vote
    accumulation and the final bit-sum live in the fold's merge/finish
    lambdas, where lambda variables are bound values, not re-evaluated
    subtrees). The naive per-bit form re-hashed every token `bits`
    times — O(bits x tokens) md5 calls."""
    hashes = f"transform(filter(split(trim({text}), '\\\\s+'), t -> t != ''), " \
             f"t -> {token_hash_expr('t')} % {MERSENNE31})"
    zero = "cast(0 as bigint)"
    return F.expr(f"""aggregate(
        {hashes},
        struct(0 as n, array_repeat(0, {bits}) as votes),
        (acc, h) -> struct(
            acc.n + 1 as n,
            zip_with(acc.votes, sequence(0, {bits - 1}),
                     (a, b) -> a + CASE WHEN shiftright(h, b) % 2 = 1 THEN 1 ELSE -1 END) as votes),
        st -> CASE WHEN st.n = 0 THEN {zero} ELSE
              aggregate(zip_with(st.votes, sequence(0, {bits - 1}),
                        (v, b) -> CASE WHEN v >= 0 THEN shiftleft(cast(1 as bigint), b)
                                  ELSE {zero} END),
                        {zero}, (acc, x) -> acc + x) END)""")


# Language-ID heuristic: stopword-marker votes (deterministic; a real
# pipeline would use fastText — this is the n-gram-heuristic stand-in).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "de", "et"),
    "de": ("der", "die", "das", "und"),
    "zh": ("zh0", "zh1", "zh2", "zh3"),
}


def lang_guess_col(text: str = "text") -> Column:
    """Argmax-score language guess; first lang (declaration order) wins
    ties. Single-fold form: the token array appears once; per-lang
    marker hits accumulate in one pass via a constant array-of-marker-
    arrays (the naive form re-split the text once per language)."""
    toks = f"filter(split(trim({text}), '\\\\s+'), t -> t != '')"
    langs = list(LANG_MARKERS)
    markers = ", ".join(
        "array(" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lg]) + ")" for lg in langs
    )
    lang_arr = "array(" + ", ".join(f"'{lg}'" for lg in langs) + ")"
    n = len(langs)
    return F.expr(f"""aggregate(
        {toks},
        array_repeat(0, {n}),
        (acc, t) -> zip_with(acc, array({markers}),
                             (a, ms) -> a + CASE WHEN array_contains(ms, t) THEN 1 ELSE 0 END),
        sc -> element_at({lang_arr},
              aggregate(zip_with(sc, sequence(0, {n - 1}), (v, i) -> struct(v as score, i as idx)),
                        struct(-1 as score, 0 as idx),
                        (acc, s) -> CASE WHEN s.score > acc.score THEN s ELSE acc END).idx + 1))""")


def quality_cols(df: DataFrame, text: str = "text") -> DataFrame:
    """Integer quality components + a deterministic integer score:
    n_tokens, n_uniq, total token chars, stopword hits."""
    toks = tokens_col(text)
    out = df.withColumn("_toks", toks)
    stop = "array('the','a','of','and','in','to')"
    return (
        out.withColumn("n_tokens", F.size("_toks"))
        .withColumn("n_uniq", F.size(F.array_distinct("_toks")))
        .withColumn("tok_chars", F.expr("aggregate(_toks, 0, (acc, t) -> acc + length(t))"))
        .withColumn("stop_hits", F.expr(f"size(filter(_toks, t -> array_contains({stop}, t)))"))
        .withColumn(
            "quality_score",
            F.col("n_tokens") + 2 * F.col("n_uniq") + F.col("stop_hits")
            - F.floor(F.col("tok_chars") / 10).cast("int"),
        )
        .drop("_toks")
    )


def repetition_cols(
    df: DataFrame, text: str = "text", key: str = "doc_id", k: int = 2
) -> DataFrame:
    """Within-document repetition stats in the style of the Gopher
    quality rules (Rae et al. 2021, "Scaling Language Models", App. A —
    public literature): per document, the total word-k-gram count, the
    count of the single most frequent k-gram, and the duplicate-gram
    mass (occurrences of grams appearing >= 2 times). High duplicate
    fractions flag boilerplate/spam docs a training pipeline drops.

    Distributed shape: explode grams -> hash agg on (doc, gram) ->
    re-agg on doc (both map-side-partial, uniform composite keys) ->
    left join back to the doc table so gram-less docs (< k tokens)
    survive with zeros. All JVM-side; integer outputs plus one rounded
    fraction for the oracle bridge."""
    grams = df.select(F.col(key), F.explode(shingles_col(text, k)).alias("_g"))
    per = grams.groupBy(key, "_g").agg(F.count("*").alias("_c"))
    stats = per.groupBy(key).agg(
        F.sum("_c").alias("n_grams"),
        F.max("_c").alias("top_gram_n"),
        F.sum(F.when(F.col("_c") >= 2, F.col("_c")).otherwise(F.lit(0)))
        .alias("dup_gram_n"),
    )
    return (
        df.select(key)
        .join(stats, key, "left")
        .select(
            F.col(key),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("top_gram_n", F.lit(0)).alias("top_gram_n"),
            F.coalesce("dup_gram_n", F.lit(0)).alias("dup_gram_n"),
        )
        .withColumn(
            "dup_frac_r6",
            F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
                F.round(
                    F.col("dup_gram_n").cast("double") / F.col("n_grams"), 6
                )
            ),
        )
    )


def fingerprint_cols(df: DataFrame, text: str = "text", k: int = 3) -> DataFrame:
    """Document fingerprints: full-text md5 (exact dup key) + min-shingle
    hash (winnowing-style content fingerprint robust to reordering at
    the edges)."""
    sh = shingles_col(text, k)
    out = df.withColumn("_sh", sh)
    return (
        out.withColumn("fp_md5", F.md5(F.col(text)))
        .withColumn(
            "fp_shingle",
            F.expr(
                f"coalesce(array_min(transform(_sh, s -> {token_hash_expr('s')})), -1)"
            ),
        )
        .drop("_sh")
    )
