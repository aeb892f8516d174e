"""Text-analysis operators over the `documents` table.

Language-ID (stopword-hit heuristic), quality scoring, token counting,
and document fingerprinting — the per-document scoring passes a
training-data pipeline runs before filtering/dedup. All pure column
expressions (whole-stage codegen); integer outputs wherever possible so
the DuckDB oracles are bit-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datamodel import load_table
from ..functions.text import (
    md5_long,
    md5_long_sql,
    norm_sql,
    normalize,
    shingles_from_tokens,
    tokens,
)

STOPLISTS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "del"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"],
    "fr": ["le", "les", "des", "et", "une", "est", "dans", "pour", "que", "sur"],
}
LANG_ORDER = ["en", "es", "de", "fr"]  # deterministic tie preference

PUNCT_CLASS = "[^.,;:!?]"
DIGIT_CLASS = "[^0-9]"


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


#: BPE-ish pre-tokenizer over normalized text: letter runs, digit
#: runs, and single non-alphanumeric marks — the GPT-2-style split
#: that approximates subword-tokenizer input counts. Plain character
#: classes only, so Java regex (Spark) and RE2 (DuckDB) agree.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    t = tokens(F.col("text"))
    norm = normalize(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit(BPE_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length(norm).alias("n_chars_norm"),
    )


def _stop_hits(t, lang: str):
    return F.size(
        F.array_intersect(
            F.array_distinct(t), F.array(*[F.lit(w) for w in STOPLISTS[lang]])
        )
    )


def quality_bucket_col(text_col):
    """The rule-based quality bucket as ONE expression over a text
    column — shared by the registered scorer, the split-drift audit,
    and the streaming twin, so the rule cannot fork."""
    t = tokens(text_col)
    n_tokens = F.size(t)
    stop_hits = _stop_hits(t, "en")
    return (
        F.when((n_tokens >= 30) & (stop_hits >= 2), "high")
        .when(n_tokens >= 15, "medium")
        .otherwise("low")
    )


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer quality components + a rule-based bucket.

    Mirrors the reference pipeline's validate-then-score posture
    (reference src/thrive_cash_processing_dag.py:639 validates rows;
    here we score documents for pipeline filtering).
    """
    docs = _docs(spark, sf_dir)
    t = tokens(F.col("text"))
    n_tokens = F.size(t)
    stop_hits = _stop_hits(t, "en")
    punct = F.length(F.regexp_replace(F.col("text"), PUNCT_CLASS, ""))
    digits = F.length(F.regexp_replace(F.col("text"), DIGIT_CLASS, ""))
    bucket = quality_bucket_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        punct.alias("n_punct"),
        digits.alias("n_digits"),
        stop_hits.alias("en_stop_hits"),
        bucket.alias("quality_bucket"),
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with deterministic preference order;
    'und' when no stoplist matches."""
    docs = _docs(spark, sf_dir)
    t = tokens(F.col("text"))
    hits = {lang: _stop_hits(t, lang) for lang in LANG_ORDER}
    best = None
    pred = F.lit("und")
    # build CASE from last preference to first so earlier langs win ties
    for lang in reversed(LANG_ORDER):
        others = [hits[o] for o in LANG_ORDER if o != lang]
        cond = (hits[lang] > 0)
        for o in others:
            cond = cond & (hits[lang] >= o)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
        best = lang
    # earlier langs override later ones on ties because outer When wins
    return docs.select(
        "doc_id",
        *[hits[lang].alias(f"hits_{lang}") for lang in LANG_ORDER],
        pred.alias("pred_lang"),
    )


def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of predicted vs labeled language — the
    eval-harness query that quantifies the heuristic's accuracy on a
    labeled corpus (one extra groupBy over lang_id's output)."""
    pred = q_text_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return (
        docs.join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit content fingerprint of the normalized text."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        md5_long(normalize(F.col("text"))).alias("fingerprint"),
    )


ROLL_B = 1_000_003          # polynomial base
ROLL_P = 2_147_483_647      # modulus (2^31-1): acc*B + h stays in int64


def q_text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-SENSITIVE polynomial rolling fingerprint over the token
    stream: fold acc = (acc*B + h(tok)) mod P. Unlike the set-style
    md5 fingerprint, token reordering changes this hash — the property
    chunk-level shingling/dedup pipelines rely on. Zero shuffle: one
    transform + one sequential array fold per row."""
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    hs = F.transform(toks, lambda t: md5_long(t) % ROLL_P)
    rolled = F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * ROLL_B + h) % ROLL_P,
    )
    return docs.select("doc_id", rolled.alias("rolling_fingerprint"))


VOCAB_TOP_N = 100
HIST_BUCKET = 200  # chars per length bucket


def q_corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N corpus vocabulary with document frequencies — the first
    pass of BPE/tokenizer training. The canonical map-reduce: explode
    is map-local, both counts partial-aggregate before the one shuffle
    on the (uniform) token key; top-N is a tiny ranked tail."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.count("*").alias("term_freq"),
        F.count_distinct("doc_id").alias("doc_freq"),
    )
    from ..functions.windows import ranked_top_k

    return ranked_top_k(
        counts, [F.col("term_freq").desc(), F.col("token")], VOCAB_TOP_N
    ).select("rank", "token", "term_freq", "doc_freq")


def q_corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution in fixed-width buckets — the
    one-scan shape check run before filtering thresholds are chosen."""
    docs = _docs(spark, sf_dir)
    bucket = (F.length("text") / HIST_BUCKET).cast("long") * HIST_BUCKET
    return docs.groupBy(bucket.alias("len_bucket")).agg(
        F.count("*").alias("n_docs"),
        F.min(F.length("text")).cast("long").alias("min_len"),
        F.max(F.length("text")).cast("long").alias("max_len"),
    )


TFIDF_TOP_N = 5


def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document — the classic relevance
    weighting (and keyword-extraction pass) over the corpus. One
    shuffle for per-(doc, token) counts; document frequencies ride a
    broadcast; rounding happens BEFORE the rank so tie order is
    deterministic across engines. The corpus size rides in as a
    broadcast 1-row aggregate cross-joined into the plan — keeping
    the whole query lazy (a driver-side docs.count() would run an
    extra scan job per invocation)."""
    docs = _docs(spark, sf_dir)
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # r19 (guide §2.3 aggregate-before-shuffle): document frequency
    # from the per-(doc, token) aggregate — tf already holds exactly
    # one row per (doc, token), so count(*) per token IS
    # count_distinct(doc_id) over the raw token stream, computed
    # without re-tokenizing the corpus or shuffling the exploded
    # token relation a second time (one Generate in the plan instead
    # of two, and the df exchange carries ~doc-count× fewer rows).
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    tfidf = F.round(
        F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(nd))
        .withColumn("tfidf", tfidf)
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TFIDF_TOP_N)
        .select("doc_id", "term_rank", "token", "tf", "df", "tfidf")
    )


BENCH_DOC_MOD = 97  # doc_id % MOD == 0 docs form the stand-in benchmark set
PPM = 1_000_000


def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares a word-3-gram shingle with the held-out 'benchmark' subset
    (doc_id % BENCH_DOC_MOD == 0 — a deterministic stand-in for an
    eval-set blocklist), with the overlapping-shingle count. The
    published training-corpus hygiene step (GPT-3/Llama reports use
    8-13-gram overlap; 3-grams here so the synthetic corpus collides).

    Scale shape: the blocklist is benchmark-sized — tiny next to a
    100 TB corpus — so it BROADCASTS; the corpus side is probed
    per-partition without a shuffle, and the only exchange is the
    final per-doc count."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    sh = toks.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("toks"))).alias("sh")
    )
    bench = (
        sh.filter(F.col("doc_id") % BENCH_DOC_MOD == 0).select("sh").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % BENCH_DOC_MOD != 0)
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        # shingles are distinct per doc by construction, so a plain
        # (map-side-combinable) count is the overlap cardinality
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )


def q_corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture table: documents and whitespace-token counts
    per (lang, source) plus each cell's parts-per-million share of
    corpus tokens — the weight vector a mixture sampler consumes.

    One partial-aggregable pass over the corpus; the share is exact
    integer `div` (never round(double) in a hashed column — and the
    multiplicand is widened to decimal so token counts past 9.2e12
    can't overflow int64 at real corpus scale). The total rides a
    window over the ~|langs|x|sources|-row aggregate, not the data."""
    docs = _docs(spark, sf_dir)
    agg = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    from ..functions.windows import bounded_spec

    # |lang x source| rollup: deliberate single-partition share window
    return agg.withColumn(
        "total_tokens", F.sum("n_tokens").over(bounded_spec(agg))
    ).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.expr(
            f"CAST(n_tokens AS DECIMAL(38,0)) * {PPM} div total_tokens"
        ).alias("share_ppm"),
    )


#: repeat-factor cap: no language is upsampled past 4 epochs.
REPEAT_CAP_PPM = 4_000_000


def q_corpus_repeat_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language repetition factors for mixture balancing: how many
    times (in ppm — 1e6 = one epoch) each language's documents should
    repeat so every language contributes an equal token share, capped
    at REPEAT_CAP_PPM (the 'don't repeat small data forever' rule from
    mixture-training practice). Exact integer arithmetic throughout:
    repeat_ppm = min(cap, total_tokens * 1e6 div (n_langs *
    lang_tokens)). One corpus pass + window totals over the tiny
    per-lang aggregate."""
    docs = _docs(spark, sf_dir)
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    from ..functions.windows import bounded_spec

    w = bounded_spec(agg)  # |langs| rows by construction
    return (
        agg.withColumn("total_tokens", F.sum("n_tokens").over(w))
        .withColumn("n_langs", F.count(F.lit(1)).over(w))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.least(
                F.lit(REPEAT_CAP_PPM).cast("decimal(38,0)"),
                F.expr(
                    f"CAST(total_tokens AS DECIMAL(38,0)) * {PPM} "
                    f"div (n_langs * n_tokens)"
                ),
            ).cast("long").alias("repeat_ppm"),
        )
    )


def _grams(t, n: int):
    """Non-distinct word n-grams of a BOUND token-array column (see
    shingles_from_tokens on why `t` must not be a computed expr)."""
    if n == 1:
        return t
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + k + 1) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition — the Gopher/RefinedWeb quality rule
    family: fraction of duplicated word n-grams (n=1,2,3) per document,
    in exact integer ppm (occurrences beyond each gram's first, over
    all gram occurrences). High duplicated-gram mass marks boilerplate
    and degenerate/looping text for downstream filtering.

    Pure per-row projection over the token array — zero shuffle, scales
    embarrassingly; the n-gram arrays are built once per row from a
    materialized token column (computed-expression lambdas would make
    this quadratic, see shingles_from_tokens)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    out = docs
    for n, name in ((1, "dup_token_ppm"), (2, "dup_bigram_ppm"),
                    (3, "dup_trigram_ppm")):
        out = out.withColumn(f"_g{n}", _grams(F.col("toks"), n)).withColumn(
            name,
            F.when(F.size(f"_g{n}") == 0, F.lit(0).cast("long")).otherwise(
                F.expr(
                    f"CAST((size(_g{n}) - size(array_distinct(_g{n})))"
                    f" AS DECIMAL(38,0)) * {PPM} div size(_g{n})"
                )
            ),
        )
    return out.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        "dup_token_ppm",
        "dup_bigram_ppm",
        "dup_trigram_ppm",
    )


CHUNK_TOKENS = 64   # tokens per training chunk
CHUNK_STRIDE = 56   # starts every 56 tokens → 8-token overlap


def q_corpus_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bounded document chunking with overlap — the
    context-window splitter a training pipeline runs before packing:
    each document yields ceil(max(n-overlap,1)/stride) chunks of up to
    CHUNK_TOKENS tokens starting every CHUNK_STRIDE (so consecutive
    chunks share CHUNK_TOKENS-CHUNK_STRIDE tokens of context), the
    final partial chunk kept.

    Pure per-row fan-out: starts = sequence(0, n-1, stride) filtered
    to those covering new tokens, chunk = slice of the MATERIALIZED
    token array (bound column — computed-expr lambdas go quadratic),
    emitted with its md5 content hash for downstream exact-dedup of
    chunks. Zero shuffle; the explode multiplies rows by ~n/stride,
    the same fan-out the training set itself has."""
    return chunk_documents(_docs(spark, sf_dir))


def _chunk_arrays(docs_df) -> DataFrame:
    """(doc_id, chunk_idx, chunk) with the MATERIALIZED token window
    per chunk — the shared fan-out under chunk_documents (hashes) and
    chunk_near_dup_rate (shingles over the same windows)."""
    docs = docs_df.select("doc_id", tokens(F.col("text")).alias("toks"))
    n = F.size("toks")
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_STRIDE)),
        lambda s: (s == 0) | (s + F.lit(CHUNK_TOKENS - CHUNK_STRIDE) < n),
    )
    return docs.select(
        "doc_id",
        "toks",
        F.posexplode(starts).alias("chunk_idx", "start"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.slice(
            F.col("toks"), F.col("start") + 1, F.lit(CHUNK_TOKENS)
        ).alias("chunk"),
    )


def chunk_documents(docs_df) -> DataFrame:
    """Chunk an ARBITRARY documents relation (doc_id, text, ...) —
    the composable form of q_corpus_chunk, so callers that already
    hold a filtered survivor set (run_corpus_pipeline) chunk only the
    survivors instead of chunking everything and semi-joining after
    (tokenizing a document the quality gate already dropped is pure
    waste)."""
    return _chunk_arrays(docs_df).select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_hash"),
    )


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup — the composition a training pipeline
    runs between chunking and packing: identical token windows
    (same md5 content hash) collapse to one canonical survivor
    (min (doc_id, chunk_idx)), so boilerplate repeated ACROSS
    documents is paid for once in the training mix. Emits the
    surviving chunks with their duplicate multiplicity; downstream
    `pack_sequences` consumes survivors weighted by n_copies.

    Shape: one groupBy on the 128-bit content hash (uniform keys, no
    hot spots) over the chunker's zero-shuffle fan-out."""
    chunks = q_corpus_chunk(spark, sf_dir)
    return chunks.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("keep"),
        F.count(F.lit(1)).alias("n_copies"),
        F.max("n_tokens").alias("n_tokens"),
    ).select(
        F.col("keep.doc_id").alias("doc_id"),
        F.col("keep.chunk_idx").alias("chunk_idx"),
        "chunk_hash",
        "n_tokens",
        "n_copies",
    )


QUERIES = {
    "corpus_chunk": q_corpus_chunk,
    "chunk_dedup": q_chunk_dedup,
    "text_repetition": q_text_repetition,
    "corpus_decontaminate": q_corpus_decontaminate,
    "corpus_mixture_weights": q_corpus_mixture_weights,
    "corpus_repeat_factors": q_corpus_repeat_factors,
    "corpus_vocabulary": q_corpus_vocabulary,
    "text_tfidf_top_terms": q_text_tfidf_top_terms,
    "corpus_length_histogram": q_corpus_length_histogram,
    "text_token_count": q_text_token_count,
    "text_quality_score": q_text_quality_score,
    "text_lang_id": q_text_lang_id,
    "text_lang_confusion": q_text_lang_confusion,
    "text_fingerprint": q_text_fingerprint,
    "text_rolling_fingerprint": q_text_rolling_fingerprint,
}

_NORM = norm_sql("text")
_TOKS = f"string_split({_NORM}, ' ')"


def _stop_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPLISTS[lang])
    return f"len(list_intersect(list_distinct(toks), [{words}]))"


_LANG_CASE = "CASE "
for _lang in LANG_ORDER:
    _conds = [f"hits_{_lang} > 0"] + [
        f"hits_{_lang} >= hits_{o}" for o in LANG_ORDER if o != _lang
    ]
    _LANG_CASE += f"WHEN {' AND '.join(_conds)} THEN '{_lang}' "
_LANG_CASE += "ELSE 'und' END"

def _dup_ppm_sql(g: str) -> str:
    return (f"CASE WHEN len({g}) = 0 THEN 0 ELSE "
            f"CAST(CAST(len({g}) - len(list_distinct({g})) AS HUGEINT)"
            f" * {PPM} // len({g}) AS BIGINT) END")


def _grams_sql(n: int) -> str:
    joined = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
    return (f"CASE WHEN len(toks) >= {n} THEN "
            f"list_transform(generate_series(1, len(toks) - {n - 1}),"
            f" i -> {joined}) "
            f"ELSE CAST([] AS VARCHAR[]) END")


#: shared chunk CTEs: documents → (doc_id, chunk_idx, chunk_hash,
#: n_tokens) survivor-eligible chunk rows (`h`), used by the
#: chunk_dedup oracle here and the pack_chunks oracle in packing.py.
CHUNK_H_CTES = f"""
d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
st AS (
  SELECT doc_id, toks,
         unnest(list_filter(range(0, greatest(len(toks), 1),
                                  {CHUNK_STRIDE}),
                s -> s = 0 OR
                     s + {CHUNK_TOKENS - CHUNK_STRIDE} < len(toks)))
           AS start
  FROM d),
h AS (
  SELECT doc_id,
         CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_idx,
         md5(array_to_string(toks[start + 1 : start + {CHUNK_TOKENS}], ' '))
           AS chunk_hash,
         CAST(len(toks[start + 1 : start + {CHUNK_TOKENS}]) AS INT)
           AS n_tokens
  FROM st)
""".strip()

#: survivor selection over `h` (min (doc_id, chunk_idx) per hash)
CHUNK_SURVIVORS_SQL = f"""
surv AS (
  SELECT doc_id, chunk_idx, chunk_hash, n_tokens, n_copies
  FROM (SELECT *,
               ROW_NUMBER() OVER (PARTITION BY chunk_hash
                                  ORDER BY doc_id, chunk_idx) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY chunk_hash) AS BIGINT)
                 AS n_copies
        FROM h)
  WHERE rn = 1)
""".strip()

ORACLES = {
    # kept starts are a PREFIX of the stride sequence (the keep
    # predicate is monotone in s), so chunk_idx == start // stride —
    # no WITH ORDINALITY needed.
    "corpus_chunk": f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
st AS (
  SELECT doc_id, toks,
         unnest(list_filter(range(0, greatest(len(toks), 1),
                                  {CHUNK_STRIDE}),
                s -> s = 0 OR
                     s + {CHUNK_TOKENS - CHUNK_STRIDE} < len(toks)))
           AS start
  FROM d),
chunks AS (
  SELECT doc_id,
         CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_idx,
         toks[start + 1 : start + {CHUNK_TOKENS}] AS chunk
  FROM st)
SELECT doc_id, chunk_idx,
       CAST(len(chunk) AS INT) AS n_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM chunks""",
    "chunk_dedup": None,  # filled below from the shared chunk CTEs
    "text_repetition": f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, toks,
             {_grams_sql(2)} AS g2,
             {_grams_sql(3)} AS g3
      FROM d)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       {_dup_ppm_sql('toks')} AS dup_token_ppm,
       {_dup_ppm_sql('g2')} AS dup_bigram_ppm,
       {_dup_ppm_sql('g3')} AS dup_trigram_ppm
FROM g""",
    "corpus_decontaminate": None,  # filled below (reuses dedup's shingle CTEs)
    "corpus_mixture_weights": f"""
WITH agg AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM agg)
SELECT lang, source, n_docs, n_tokens,
       CAST((CAST(n_tokens AS HUGEINT) * {PPM}) // total_tokens AS BIGINT)
         AS share_ppm
FROM agg CROSS JOIN t""",
    "corpus_repeat_factors": f"""
WITH agg AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             COUNT(*) AS n_langs FROM agg)
SELECT lang, n_docs, n_tokens,
       CAST(LEAST({REPEAT_CAP_PPM},
                  (CAST(total_tokens AS HUGEINT) * {PPM})
                    // (n_langs * n_tokens)) AS BIGINT) AS repeat_ppm
FROM agg CROSS JOIN t""",
    "corpus_vocabulary": f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
counts AS (
  SELECT token, COUNT(*) AS term_freq,
         COUNT(DISTINCT doc_id) AS doc_freq
  FROM tok GROUP BY token)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY term_freq DESC, token) AS INT) AS rank,
       token, term_freq, doc_freq
FROM counts
QUALIFY rank <= {VOCAB_TOP_N}""",
    "text_tfidf_top_terms": f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf, df,
         ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS term_rank,
       token, tf, df, tfidf
FROM scored
QUALIFY term_rank <= {TFIDF_TOP_N}""",
    "corpus_length_histogram": f"""
SELECT CAST(length(text) // {HIST_BUCKET} AS BIGINT) * {HIST_BUCKET}
         AS len_bucket,
       COUNT(*) AS n_docs,
       CAST(MIN(length(text)) AS BIGINT) AS min_len,
       CAST(MAX(length(text)) AS BIGINT) AS max_len
FROM documents GROUP BY len_bucket""",
    "text_token_count": f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks, {_NORM} AS norm FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
       CAST(len(regexp_extract_all(norm, '{BPE_PATTERN}')) AS INT)
         AS n_bpe_tokens,
       CAST(length(norm) AS INT) AS n_chars_norm
FROM d""",
    "text_quality_score": f"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
c AS (SELECT doc_id, text, toks,
             CAST(len(toks) AS INT) AS n_tokens,
             CAST({_stop_sql('en')} AS INT) AS en_stop_hits
      FROM d)
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       n_tokens,
       CAST(length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS INT) AS n_punct,
       CAST(length(regexp_replace(text, '{DIGIT_CLASS}', '', 'g')) AS INT) AS n_digits,
       en_stop_hits,
       CASE WHEN n_tokens >= 30 AND en_stop_hits >= 2 THEN 'high'
            WHEN n_tokens >= 15 THEN 'medium'
            ELSE 'low' END AS quality_bucket
FROM c""",
    "text_lang_id": f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id,
             {", ".join(f"CAST({_stop_sql(lang)} AS INT) AS hits_{lang}" for lang in LANG_ORDER)}
      FROM d)
SELECT doc_id, {", ".join(f"hits_{lang}" for lang in LANG_ORDER)},
       {_LANG_CASE} AS pred_lang
FROM h""",
    "text_fingerprint": f"""
SELECT doc_id, {md5_long_sql(_NORM)} AS fingerprint FROM documents""",
    "text_rolling_fingerprint": f"""
WITH d AS (SELECT doc_id,
                  list_transform({_TOKS},
                                 t -> {md5_long_sql('t')} % {ROLL_P}) AS hs
           FROM documents)
SELECT doc_id,
       list_reduce(hs, (a, b) -> (a * {ROLL_B} + b) % {ROLL_P})
         AS rolling_fingerprint
FROM d""",
    "text_lang_confusion": f"""
WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, lang,
             {", ".join(f"CAST({_stop_sql(lang)} AS INT) AS hits_{lang}" for lang in LANG_ORDER)}
      FROM d),
p AS (SELECT doc_id, lang, {_LANG_CASE} AS pred_lang FROM h)
SELECT lang, pred_lang, COUNT(*) AS n_docs
FROM p GROUP BY lang, pred_lang""",
}


def _decontaminate_oracle() -> str:
    # the shingle CTEs are owned by dedup (same normalization + 3-gram
    # construction on both engines); build from them so the two stay
    # in sync
    from .dedup import _SHINGLE_CTES

    return f"""
WITH {_SHINGLE_CTES},
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCH_DOC_MOD} = 0)
SELECT s.doc_id, COUNT(*) AS n_contaminated_shingles
FROM sh s JOIN bench USING (sh)
WHERE s.doc_id % {BENCH_DOC_MOD} <> 0
GROUP BY s.doc_id"""


ORACLES["corpus_decontaminate"] = _decontaminate_oracle()


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontaminated training corpus itself: non-benchmark
    documents with NO shingle overlap against the benchmark blocklist
    — corpus_decontaminate's report turned into the anti-join
    deliverable a release pipeline actually ships. Same broadcast
    blocklist probe; the anti-join is the only added operator."""
    docs = _docs(spark, sf_dir)
    contaminated = q_corpus_decontaminate(spark, sf_dir).select("doc_id")
    return (
        docs.filter(F.col("doc_id") % BENCH_DOC_MOD != 0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


QUERIES["corpus_clean"] = q_corpus_clean
ORACLES["corpus_clean"] = f"""
WITH contaminated AS ({_decontaminate_oracle()})
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id % {BENCH_DOC_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)"""


def q_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release manifest: per (split, lang) document/token counts plus
    an order-independent content checksum (bit_xor of per-doc md5
    content hashes — md5 is the one hash both engines share; xxhash64
    would be Spark-only) — the reproducibility record shipped with a
    dataset so a consumer can verify they materialized the identical
    split. One corpus pass, map-side combinable; bit_xor not SUM
    (ANSI overflow, CLAUDE.md rule)."""
    from .sampling import split_column

    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            split_column(F.col("doc_id")).alias("split"),
            "lang",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
            md5_long(normalize(F.col("text"))).alias("h"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.expr("bit_xor(h)").alias("content_checksum"),
        )
    )


def _manifest_oracle() -> str:
    from .sampling import SPLIT_TRAIN, SPLIT_VAL, hash_bucket_sql

    b = hash_bucket_sql("doc_id", 100, "split")
    return f"""
WITH d AS (
  SELECT CASE WHEN {b} < {SPLIT_TRAIN} THEN 'train'
              WHEN {b} < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split,
         lang,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         {md5_long_sql(_NORM)} AS h
  FROM documents)
SELECT split, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       bit_xor(h) AS content_checksum
FROM d GROUP BY split, lang"""


QUERIES["dataset_manifest"] = q_dataset_manifest
ORACLES["dataset_manifest"] = _manifest_oracle()


def q_decontamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE contamination report — the rollup a data-sourcing
    team reads: for each source, training docs checked, docs sharing
    any benchmark shingle, and the integer-ppm contamination rate.
    Ranks which upstream feeds leak eval data; the doc-level report
    (`corpus_decontaminate`) stays the per-document evidence.

    Same broadcast-blocklist probe as the doc-level query; the rollup
    adds one tiny groupBy on source over the per-doc flags."""
    docs = _docs(spark, sf_dir)
    contaminated = q_corpus_decontaminate(spark, sf_dir).select("doc_id")
    train = docs.filter(F.col("doc_id") % BENCH_DOC_MOD != 0)
    flagged = train.join(
        contaminated.withColumn("hit", F.lit(1)), "doc_id", "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_contaminated"),
        F.expr(
            "CAST(SUM(COALESCE(hit, 0)) AS DECIMAL(38,0)) * 1000000"
            " div COUNT(*)"
        ).cast("long").alias("contamination_ppm"),
    )


QUERIES["decontamination_by_source"] = q_decontamination_by_source

def _decontamination_by_source_oracle() -> str:
    # same shingle CTEs as the doc-level oracle (owned by dedup so the
    # normalization stays in sync across engines)
    from .dedup import _SHINGLE_CTES

    return f"""
WITH {_SHINGLE_CTES},
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCH_DOC_MOD} = 0),
cont AS (SELECT DISTINCT s.doc_id
         FROM sh s JOIN bench USING (sh)
         WHERE s.doc_id % {BENCH_DOC_MOD} <> 0)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(cont.doc_id) AS BIGINT) AS n_contaminated,
       CAST(CAST(COUNT(cont.doc_id) AS HUGEINT) * 1000000 // COUNT(*)
            AS BIGINT) AS contamination_ppm
FROM documents d LEFT JOIN cont ON cont.doc_id = d.doc_id
WHERE d.doc_id % {BENCH_DOC_MOD} <> 0
GROUP BY d.source"""


ORACLES["decontamination_by_source"] = _decontamination_by_source_oracle()


BPE_TOP_PAIRS = 20


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of BPE tokenizer training, distributed: the
    corpus-weighted frequency of every ADJACENT CHARACTER PAIR inside
    word tokens, ranked — row 1 is exactly the merge a BPE trainer
    would perform next (Sennrich et al. 2016's algorithm, one
    iteration; full training = iterate merges, re-pairing only words
    that contain the merged pair).

    Scale shape: the classic two-level reduce. Words distinct-reduce
    FIRST (corpus → vocabulary with term frequencies — the 100 TB
    shrink), then the bounded per-word pair fan-out (<= word length)
    explodes off the TINY vocabulary relation, and pair counts
    partial-aggregate. Only the vocabulary groupBy and the pair
    groupBy shuffle; the final top-N is a WindowGroupLimit tail."""
    docs = _docs(spark, sf_dir)
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.filter(F.length("w") >= 2).select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("freq").alias("pair_count"))
    from ..functions.windows import ranked_top_k

    return ranked_top_k(
        counts, [F.col("pair_count").desc(), F.col("pair")], BPE_TOP_PAIRS
    ).select("rank", "pair", "pair_count")


QUERIES["bpe_merge_candidates"] = q_bpe_merge_candidates

ORACLES["bpe_merge_candidates"] = f"""
WITH tok AS (SELECT unnest({_TOKS}) AS w FROM documents),
vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY w),
pairs AS (
  SELECT freq, unnest(list_transform(range(1, length(w)),
                                     i -> substring(w, i, 2))) AS pair
  FROM vocab WHERE length(w) >= 2),
counts AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
           FROM pairs GROUP BY pair)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS INT)
         AS rank,
       pair, pair_count
FROM counts
QUALIFY rank <= {BPE_TOP_PAIRS}"""


BPE_ROUNDS = 6


def q_bpe_train_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training, {BPE_ROUNDS} rounds distributed —
    the iterated form of `bpe_merge_candidates` (Sennrich et al. 2016):
    each round picks the globally most frequent adjacent symbol pair
    and merges it greedily left-to-right in every vocabulary word,
    then re-pairs. Output: the ordered merge list (round, left_sym,
    right_sym, merged, pair_count) — the artifact a tokenizer ships.

    Symbol sequences are encoded as `(a)(bc)(d)` strings over the
    ALNUM-filtered vocabulary (BPE runs post-pretokenization; the
    filter also makes the parens markers unambiguous, since merged
    symbols stay alnum). A merge is then plain `replace(s, '(l)(r)',
    '(lr)')` — both engines scan left-to-right without rescanning the
    replacement, which IS greedy non-overlapping BPE merge semantics
    ('(a)(a)(a)(a)' -> '(aa)(aa)', one pass). Pair counting follows
    the reference algorithm: every adjacent position counts (in 'aaa'
    the pair (a,a) counts twice) even though the merge is
    non-overlapping.

    Scale shape: the corpus -> vocabulary distinct-reduce happens ONCE
    and is checkpointed; all {BPE_ROUNDS} rounds iterate on the TINY
    vocab relation (pair explode bounded by word length, map-side
    partial aggregation, one-row top-1 broadcast back — no collect).
    localCheckpoint per round per the iterative-loop rule. Ties break
    on (count desc, left, right) — pure ASCII ordering, engine-stable.
    The DuckDB oracle unrolls the same {BPE_ROUNDS} rounds and matches
    bit-for-bit (dedup_pagerank's unrolled-oracle pattern)."""
    merges, _vocab = _bpe_train(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def _bpe_train(spark: SparkSession, sf_dir: str):
    """The {BPE_ROUNDS}-round training loop shared by `bpe_train_k`
    (which emits the merge list) and `bpe_apply` (which tokenizes the
    corpus with the final vocabulary). Returns (list of one-row merge
    DataFrames, final vocab as (w, s, freq) with s the merged
    parenthesized symbol string)."""
    docs = _docs(spark, sf_dir)
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "w", F.regexp_replace("w", "(.)", r"($1)").alias("s"), "freq"
        )
        .localCheckpoint(eager=True)
    )
    merges = []
    for rnd in range(1, BPE_ROUNDS + 1):
        syms = F.split(
            F.expr("substring(s, 2, length(s) - 2)"), r"\)\("
        )
        pairs = (
            vocab.select(syms.alias("syms"), "freq")
            .filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - F.lit(1)),
                        lambda i: F.struct(
                            F.element_at(F.col("syms"), i).alias("l"),
                            F.element_at(F.col("syms"), i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .select("freq", "p.l", "p.r")
        )
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "l", "r")
            .limit(1)
            .localCheckpoint(eager=True)  # 1 row: both consumers reuse
        )
        merges.append(
            best.select(
                F.lit(rnd).alias("round"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat("l", "r").alias("merged"),
                "pair_count",
            )
        )
        vocab = (
            vocab.crossJoin(F.broadcast(best))
            .select(
                "w",
                F.expr(
                    "replace(s, '(' || l || ')(' || r || ')',"
                    " '(' || l || r || ')')"
                ).alias("s"),
                "freq",
            )
            .localCheckpoint(eager=True)
        )
    return merges, vocab


QUERIES["bpe_train_k"] = q_bpe_train_k


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZE the corpus with the trained BPE vocabulary — the
    apply side of `bpe_train_k` (the thing an LLM data pipeline runs
    over every document once the tokenizer is frozen): per document,
    how many subword tokens the {BPE_ROUNDS}-merge vocabulary
    produces, with the chars-per-subword compression signal in
    integer ppm.

    Scale shape: tokenization happens ONCE per distinct word — the
    final vocab (already merged, checkpointed by the shared training
    loop) carries each word's symbol count, and the corpus pass is a
    scan + BROADCAST hash join (the vocab is the small side by
    construction) + per-doc partial agg. No per-row Python, no
    re-merging per occurrence. Words outside the alnum
    pretokenization filter are excluded from both counts
    (documented; the lang-id/quality ops cover them)."""
    _merges, vocab = _bpe_train(spark, sf_dir)
    tokv = vocab.select(
        "w",
        F.size(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\)\(")
        ).alias("n_sub"),
        F.length("w").alias("n_chars_w"),
    )
    docs = _docs(spark, sf_dir)
    dw = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.col("w").rlike("^[a-z0-9]+$"))
    agg = (
        dw.join(F.broadcast(tokv), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
            F.sum("n_chars_w").alias("n_chars"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_subwords", F.lit(0))
            .cast("long")
            .alias("n_subwords"),
            F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
            F.when(F.coalesce("n_chars", F.lit(0)) == 0, F.lit(0))
            .otherwise(
                F.expr(
                    "CAST(n_subwords AS DECIMAL(38,0))"
                    " * 1000000 div n_chars"
                )
            )
            .cast("long")
            .alias("subwords_per_char_ppm"),
        )
    )


QUERIES["bpe_apply"] = q_bpe_apply


def _bpe_ctes() -> list[str]:
    """The unrolled {BPE_ROUNDS}-round training CTEs shared by the
    train and apply oracles (the word column rides through the merge
    chain so the apply oracle can join back to the corpus)."""
    ctes = [
        f"tok AS (SELECT unnest({_TOKS}) AS w FROM documents)",
        "vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM tok"
        " WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w)",
        "s0 AS (SELECT w, regexp_replace(w, '(.)', '(\\1)', 'g') AS s, freq"
        " FROM vocab)",
    ]
    for r in range(1, BPE_ROUNDS + 1):
        ctes.append(
            f"p{r} AS (SELECT freq, unnest(list_transform("
            "range(1, len(syms)), i -> syms[i] || ' ' || syms[i+1])) AS pr"
            " FROM (SELECT string_split(substring(s, 2, length(s) - 2),"
            f" ')(') AS syms, freq FROM s{r - 1}) ss"
            " WHERE len(syms) >= 2)"
        )
        ctes.append(
            f"b{r} AS (SELECT string_split(pr, ' ')[1] AS l,"
            " string_split(pr, ' ')[2] AS r,"
            " CAST(SUM(freq) AS BIGINT) AS pair_count"
            f" FROM p{r} GROUP BY pr"
            " ORDER BY pair_count DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"s{r} AS (SELECT w, replace(s, '(' || b.l || ')(' || b.r ||"
            f" ')', '(' || b.l || b.r || ')') AS s, freq"
            f" FROM s{r - 1}, b{r} b)"
        )
    return ctes


def _bpe_train_k_oracle() -> str:
    selects = [
        f"SELECT CAST({r} AS INT) AS round, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, pair_count FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    ]
    return (
        "WITH " + ",\n".join(_bpe_ctes()) + "\n"
        + "\nUNION ALL ".join(selects)
    )


ORACLES["bpe_train_k"] = _bpe_train_k_oracle()


def _bpe_apply_oracle() -> str:
    ctes = _bpe_ctes() + [
        f"tokv AS (SELECT w, CAST(len(string_split(substring(s, 2,"
        f" length(s) - 2), ')(')) AS BIGINT) AS n_sub,"
        f" CAST(length(w) AS BIGINT) AS n_chars_w FROM s{BPE_ROUNDS})",
        "dw AS (SELECT doc_id, w FROM (SELECT doc_id,"
        f" unnest({_TOKS}) AS w FROM documents)"
        " WHERE regexp_matches(w, '^[a-z0-9]+$'))",
        "agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,"
        " CAST(SUM(n_sub) AS BIGINT) AS n_subwords,"
        " CAST(SUM(n_chars_w) AS BIGINT) AS n_chars"
        " FROM dw JOIN tokv USING (w) GROUP BY doc_id)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,"
        " COALESCE(a.n_subwords, 0) AS n_subwords,"
        " COALESCE(a.n_chars, 0) AS n_chars,"
        " CASE WHEN COALESCE(a.n_chars, 0) = 0 THEN 0"
        " ELSE CAST(CAST(a.n_subwords AS HUGEINT) * 1000000"
        " // a.n_chars AS BIGINT) END AS subwords_per_char_ppm"
        " FROM documents d LEFT JOIN agg a USING (doc_id)"
    )


ORACLES["bpe_apply"] = _bpe_apply_oracle()


def q_chunk_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-CHUNK language re-ID against the document-level label — the
    quality probe that catches concatenated multi-language documents
    (crawl pages with boilerplate in one language and body in another)
    that a single doc-level lang-id averages away. A chunk whose
    confident prediction disagrees with the doc label is flagged;
    'und' chunks (no stoplist evidence) never flag.

    Same zero-shuffle chunk fan-out as `corpus_chunk`; the stoplist
    hits are array_intersect projections per chunk — all codegen."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", tokens(F.col("text")).alias("toks")
    )
    n = F.size("toks")
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_STRIDE)),
        lambda s: (s == 0) | (s + F.lit(CHUNK_TOKENS - CHUNK_STRIDE) < n),
    )
    chunked = docs.select(
        "doc_id",
        "lang",
        F.posexplode(starts).alias("chunk_idx", "start"),
        "toks",
    ).select(
        "doc_id",
        "lang",
        "chunk_idx",
        F.slice(
            F.col("toks"), F.col("start") + 1, F.lit(CHUNK_TOKENS)
        ).alias("chunk"),
    )
    hits = {
        lang: F.size(
            F.array_intersect(
                F.array_distinct(F.col("chunk")),
                F.array(*[F.lit(w) for w in STOPLISTS[lang]]),
            )
        )
        for lang in LANG_ORDER
    }
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):
        cond = hits[lang] > 0
        for o in LANG_ORDER:
            if o != lang:
                cond = cond & (hits[lang] >= hits[o])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.col("lang").alias("doc_lang"),
        pred.alias("pred_lang"),
        ((pred != F.col("lang")) & (pred != F.lit("und")))
        .cast("int")
        .alias("mismatch"),
    )


QUERIES["chunk_lang_mismatch"] = q_chunk_lang_mismatch

ORACLES["chunk_lang_mismatch"] = f"""
WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks0 FROM documents),
st AS (
  SELECT doc_id, lang, toks0,
         unnest(list_filter(range(0, greatest(len(toks0), 1),
                                  {CHUNK_STRIDE}),
                s -> s = 0 OR
                     s + {CHUNK_TOKENS - CHUNK_STRIDE} < len(toks0)))
           AS start
  FROM d),
chunks AS (
  SELECT doc_id, lang,
         CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_idx,
         toks0[start + 1 : start + {CHUNK_TOKENS}] AS toks
  FROM st),
h AS (SELECT doc_id, chunk_idx, lang,
             {", ".join(f"CAST({_stop_sql(lang)} AS INT) AS hits_{lang}"
                        for lang in LANG_ORDER)}
      FROM chunks)
SELECT doc_id, chunk_idx, lang AS doc_lang,
       {_LANG_CASE} AS pred_lang,
       CAST(CASE WHEN {_LANG_CASE} <> lang AND {_LANG_CASE} <> 'und'
                 THEN 1 ELSE 0 END AS INT) AS mismatch
FROM h"""

ORACLES["chunk_dedup"] = f"""
WITH {CHUNK_H_CTES},
{CHUNK_SURVIVORS_SQL}
SELECT doc_id, chunk_idx, chunk_hash, n_tokens, n_copies FROM surv"""


BIGRAM_COMMON_MIN = 3  # corpus count threshold for a "common" bigram


def corpus_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality signal without the LM: a
    bigram "model" is trained FROM the corpus itself (every adjacent
    token pair with corpus count >= BIGRAM_COMMON_MIN is "common"),
    and each document is scored by the fraction of ITS bigram
    occurrences that the model has seen — low coverage = atypical
    token transitions = boilerplate/garbled/foreign text, the same
    quality axis CCNet's KenLM-perplexity filter buckets on (Wenzek
    et al. 2020), but fully deterministic and integer-exact.
    Registered in round 6.

    Output per doc: n_bigrams, n_common (occurrence-weighted), and
    coverage_ppm = n_common * 1e6 div n_bigrams (docs with < 2 tokens
    report 0/0/0 rather than dropping out).

    Scale shape: the bigram relation is materialized ONCE as a
    zero-shuffle per-row fan-out (transform over the token array, no
    self-join); corpus counts are a map-side-combinable groupBy on
    the uniform bigram string; the per-doc score is one shuffle join
    of that relation with the count table followed by a doc groupBy.
    At 100 TB the count table is the big intermediate — it
    distinct-reduces to the bigram vocabulary (Heaps-law sublinear),
    and the join key is its own uniform hash; a common-set bloom
    filter or count-min sketch can replace the exact table without
    changing this plan's shape."""
    d = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    bgs = F.expr(
        "CASE WHEN size(toks) < 2 THEN array() ELSE "
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat(toks[i - 1], ' ', toks[i])) END"
    )
    doc_bg = (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode_outer(bgs).alias("bg"))
    )
    counts = (
        doc_bg.filter(F.col("bg").isNotNull())
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scored = (
        doc_bg.join(counts, "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("bg")).alias("n_bigrams"),
            F.sum(
                F.when(
                    F.col("n") >= BIGRAM_COMMON_MIN, F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_common"),
        )
    )
    cov = F.expr(
        "CASE WHEN n_bigrams = 0 THEN 0 "
        "ELSE n_common * 1000000 div n_bigrams END"
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_common").cast("long").alias("n_common"),
        cov.cast("long").alias("coverage_ppm"),
    )


#: DuckDB twin of corpus_bigram_coverage (round-6 registration).
BIGRAM_COVERAGE_ORACLE = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
  FROM d, unnest(range(1, greatest(len(toks), 1))) AS t(i)),
counts AS (SELECT bg, COUNT(*) AS n FROM bg GROUP BY bg),
scored AS (
  SELECT d.doc_id,
         COUNT(bg.bg) AS n_bigrams,
         COUNT(CASE WHEN counts.n >= {BIGRAM_COMMON_MIN}
                    THEN 1 END) AS n_common
  FROM d
  LEFT JOIN bg ON bg.doc_id = d.doc_id
  LEFT JOIN counts ON counts.bg = bg.bg
  GROUP BY d.doc_id)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(CASE WHEN n_bigrams = 0 THEN 0
                 ELSE n_common * 1000000 // n_bigrams END AS BIGINT)
         AS coverage_ppm
FROM scored"""


#: [.] instead of backslash-dot: Spark SQL string literals consume
#: backslash escapes (measured: '\.' reached Java regex as a bare '.'
#: and the email match swallowed the following word), while a
#: character class survives literal embedding identically in Java
#: regex and RE2.
PII_EMAIL_PAT = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
PII_PHONE_PAT = "555-[0-9]{4}"


def pii_scan_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the mandatory scrub pass of every
    LLM training-data pipeline. The synthetic corpus contains no PII,
    so the kernel is proven the way the codecs are
    (multimodal_codec_attest): each document is AUGMENTED with a
    deterministic, md5-derived quota of synthetic emails (doc_id % 3
    of them) and one 555-phone, then scanned and redacted; the
    emitted md5 fingerprint of the REDACTED text makes any
    regexp_replace divergence (missed match, wrong span, ordering)
    flip the cross-engine value hash — far stronger than count
    equality alone.
    Registered in round 6.
    Patterns are RE2-safe simple classes (no lookaround/backrefs) so
    Java regex and RE2 agree by construction; DuckDB needs the 'g'
    flag to match Spark's replace-all. Pure per-row projection —
    zero shuffle, scales embarrassingly."""
    d = _docs(spark, sf_dir)
    # guard the empty case: Spark sequence(1, 0) REVERSES to [1, 0]
    # (DuckDB range(1, 1) is empty) — the documented divergence
    email_k = (
        "CASE WHEN doc_id % 3 = 0 THEN array() ELSE "
        "transform(sequence(1, CAST(doc_id % 3 AS INT)), "
        "k -> concat(substring(md5(concat(text, CAST(k AS STRING))), "
        "1, 8), '@example.com')) END"
    )
    aug = (
        f"concat(text, ' contact ', array_join({email_k}, ' '), "
        "' tel 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))"
    )
    scanned = d.select(
        "doc_id",
        F.expr(aug).alias("aug"),
    ).select(
        "doc_id",
        F.expr(
            f"size(regexp_extract_all(aug, '{PII_EMAIL_PAT}', 0))"
        ).cast("long").alias("n_emails"),
        F.expr(
            f"size(regexp_extract_all(aug, '{PII_PHONE_PAT}', 0))"
        ).cast("long").alias("n_phones"),
        F.expr(
            f"regexp_replace(regexp_replace(aug, '{PII_EMAIL_PAT}', "
            f"'[EMAIL]'), '{PII_PHONE_PAT}', '[PHONE]')"
        ).alias("redacted"),
    )
    return scanned.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.length("redacted").cast("long").alias("redacted_len"),
        md5_long(F.col("redacted")).alias("redacted_fp"),
        (
            ~F.col("redacted").rlike(PII_EMAIL_PAT)
            & ~F.col("redacted").rlike(PII_PHONE_PAT)
        ).cast("int").alias("is_clean"),
    )


#: DuckDB twin of pii_scan_redact (round-6 registration).
PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact ' ||
         COALESCE(array_to_string(
           [substring(md5(text || CAST(k AS VARCHAR)), 1, 8)
              || '@example.com'
            for k in range(1, CAST(doc_id % 3 AS INT) + 1)], ' '),
           '') ||
         ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           AS aug
  FROM documents),
red AS (
  SELECT doc_id, aug,
         regexp_replace(regexp_replace(aug, '{PII_EMAIL_PAT}',
                                       '[EMAIL]', 'g'),
                        '{PII_PHONE_PAT}', '[PHONE]', 'g') AS redacted
  FROM aug)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{PII_EMAIL_PAT}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(aug, '{PII_PHONE_PAT}')) AS BIGINT)
         AS n_phones,
       CAST(length(redacted) AS BIGINT) AS redacted_len,
       {md5_long_sql('redacted')} AS redacted_fp,
       CAST(NOT regexp_matches(redacted, '{PII_EMAIL_PAT}')
            AND NOT regexp_matches(redacted, '{PII_PHONE_PAT}')
            AS INT) AS is_clean
FROM red"""


DRIFT_BUCKET_W = 64  # chars per length bucket for the drift profile


def corpus_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit per source: the TOTAL-VARIATION
    distance between each source's document-length profile and the
    whole corpus's, in exact integer ppm — "which provider's
    deliveries look different" is the first question a data-quality
    rotation asks, and TV distance is the sane discrete metric for it
    (PSI/KL need logs, which never hash identically across engines).
    Registered in round 6.
    Exactness: TV = 1/2 * sum_b |p_sb - p_b| over common-denominator
    integers: |n_sb * N - n_b * N_s| summed in DECIMAL(38,0) (counts
    up to ~1e12 keep the product inside 38 digits — the ppm
    convention), then one truncating div by 2 * N_s * N.

    Scale shape: ONE map-side-combinable (source, bucket) groupBy
    over documents; everything after runs on that tiny rollup
    (windows for the bucket/corpus marginals, a per-source agg)."""
    d = _docs(spark, sf_dir)
    cells = d.groupBy(
        "source", F.expr(f"n_chars div {DRIFT_BUCKET_W}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_sb"))
    from ..functions.windows import bounded_spec

    wsrc = Window.partitionBy("source")
    wbkt = Window.partitionBy("bucket")
    wall = bounded_spec(cells)  # |source x bucket| cells by construction
    m = cells.select(
        "source", "bucket", "n_sb",
        F.sum("n_sb").over(wsrc).alias("n_s"),
        F.sum("n_sb").over(wbkt).alias("n_b"),
        F.sum("n_sb").over(wall).alias("n"),
    )
    # a bucket the source MISSES still contributes |0 - n_b * N_s|;
    # summing the present cells and adding the missing mass
    # algebraically: sum_b|..| = sum_present|n_sb*N - n_b*N_s|
    #   + (N - sum_present n_b) * N_s
    num_present = F.sum(
        F.abs(
            F.col("n_sb").cast("decimal(38,0)") * F.col("n")
            - F.col("n_b").cast("decimal(38,0)") * F.col("n_s")
        )
    )
    covered_b = F.sum(F.col("n_b").cast("decimal(38,0)"))
    return (
        m.groupBy("source")
        .agg(
            F.first("n_s").alias("n_docs"),
            F.first("n").alias("n_total"),
            num_present.alias("num_p"),
            covered_b.alias("cov_b"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr(
                "CAST((num_p + (CAST(n_total AS DECIMAL(38,0)) - cov_b)"
                " * n_docs) * 1000000"
                " div (2 * CAST(n_docs AS DECIMAL(38,0)) * n_total)"
                " AS BIGINT)"
            ).alias("tv_ppm"),
        )
    )


#: DuckDB twin of corpus_source_drift (round-6+ registration).
SOURCE_DRIFT_ORACLE = f"""
WITH cells AS (
  SELECT source, n_chars // {DRIFT_BUCKET_W} AS bucket,
         COUNT(*) AS n_sb
  FROM documents GROUP BY 1, 2),
m AS (
  SELECT source, bucket, n_sb,
         SUM(n_sb) OVER (PARTITION BY source) AS n_s,
         SUM(n_sb) OVER (PARTITION BY bucket) AS n_b,
         SUM(n_sb) OVER () AS n
  FROM cells)
SELECT source,
       CAST(MIN(n_s) AS BIGINT) AS n_docs,
       CAST((SUM(abs(CAST(n_sb AS HUGEINT) * n - CAST(n_b AS HUGEINT)
                     * n_s))
             + (MIN(n) - SUM(n_b)) * MIN(n_s)) * 1000000
            // (2 * CAST(MIN(n_s) AS HUGEINT) * MIN(n))
            AS BIGINT) AS tv_ppm
FROM m GROUP BY source"""


def corpus_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per source: token mass, distinct
    vocabulary, type-token ratio in integer ppm, and hapax (frequency
    1) share of the vocabulary — the classic Zipf-adjacent signals
    that separate template/boilerplate feeds (low TTR, few hapaxes)
    from natural prose, without a single logarithm.
    Registered in round 6.

    Scale shape: ONE (source, token) groupBy over the token fan-out
    (map-side combinable, uniform keys) carries everything; the
    per-source rollup runs on that distinct-reduced relation."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    cells = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        cells.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum((F.col("n") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
            F.col("n_hapax").cast("long").alias("n_hapax"),
            F.expr(
                "CAST(n_types * 1000000 div n_tokens AS BIGINT)"
            ).alias("ttr_ppm"),
            F.expr(
                "CAST(n_hapax * 1000000 div n_types AS BIGINT)"
            ).alias("hapax_ppm"),
        )
    )


#: DuckDB twin of corpus_lexical_diversity (round-6+ registration).
LEXICAL_DIVERSITY_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS tok FROM documents),
cells AS (
  SELECT source, tok, COUNT(*) AS n
  FROM tok WHERE tok <> '' GROUP BY source, tok)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(COUNT(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_hapax,
       CAST(COUNT(*) * 1000000 // SUM(n) AS BIGINT) AS ttr_ppm,
       CAST(COUNT(CASE WHEN n = 1 THEN 1 END) * 1000000 // COUNT(*)
            AS BIGINT) AS hapax_ppm
FROM cells GROUP BY source"""


def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH source ships duplicates: per source, exact-content
    duplicate mass (docs beyond the first per normalized-text hash,
    WITHIN the source) and cross-source overlap (this source's
    distinct contents also seen in some other source) — both integer
    ppm. The provider scorecard that tells a data-acquisition team
    who to chase; complements corpus_source_drift (distribution) and
    corpus_lexical_diversity (vocabulary).
    Registered in round 6.

    Scale shape: ONE (source, content-hash) groupBy over documents
    carries the within-source audit; the cross-source flag is a
    window over the distinct-reduced (source, hash) relation —
    uniform 128-bit keys everywhere."""
    d = _docs(spark, sf_dir)
    h = F.md5(normalize(F.col("text")))
    cells = d.select("source", h.alias("ch")).groupBy(
        "source", "ch"
    ).agg(F.count(F.lit(1)).alias("n"))
    wh = Window.partitionBy("ch")
    m = cells.withColumn(
        "n_sources", F.count(F.lit(1)).over(wh)
    )
    return (
        m.groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(
                F.when(F.col("n_sources") > 1, F.lit(1)).otherwise(0)
            ).alias("n_shared"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.expr(
                "CAST((n_docs - n_distinct) * 1000000 div n_docs"
                " AS BIGINT)"
            ).alias("internal_dup_ppm"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.expr(
                "CAST(n_shared * 1000000 div n_distinct AS BIGINT)"
            ).alias("cross_source_ppm"),
        )
    )


#: DuckDB twin of corpus_dup_rate_by_source (round-6+ registration).
DUP_RATE_ORACLE = f"""
WITH cells AS (
  SELECT source, md5({_NORM}) AS ch, COUNT(*) AS n
  FROM documents GROUP BY 1, 2),
m AS (
  SELECT source, ch, n,
         COUNT(*) OVER (PARTITION BY ch) AS n_sources
  FROM cells)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST((SUM(n) - COUNT(*)) * 1000000 // SUM(n) AS BIGINT)
         AS internal_dup_ppm,
       CAST(COUNT(CASE WHEN n_sources > 1 THEN 1 END) AS BIGINT)
         AS n_shared,
       CAST(COUNT(CASE WHEN n_sources > 1 THEN 1 END) * 1000000
            // COUNT(*) AS BIGINT) AS cross_source_ppm
FROM m GROUP BY source"""


# --- Round-6 registrations into the driver contract
# --- (queries()/oracle_sql()).
QUERIES["corpus_bigram_coverage"] = corpus_bigram_coverage
ORACLES["corpus_bigram_coverage"] = BIGRAM_COVERAGE_ORACLE
QUERIES["pii_scan_redact"] = pii_scan_redact
ORACLES["pii_scan_redact"] = PII_ORACLE
QUERIES["corpus_source_drift"] = corpus_source_drift
ORACLES["corpus_source_drift"] = SOURCE_DRIFT_ORACLE
QUERIES["corpus_lexical_diversity"] = corpus_lexical_diversity
ORACLES["corpus_lexical_diversity"] = LEXICAL_DIVERSITY_ORACLE
QUERIES["corpus_dup_rate_by_source"] = corpus_dup_rate_by_source
ORACLES["corpus_dup_rate_by_source"] = DUP_RATE_ORACLE


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — the per-locale metric
    tokenizer teams watch before freezing a vocab: subword pieces per
    word under the trained {BPE_ROUNDS}-merge vocabulary (high
    fertility = the merges serve that language poorly, inflating
    sequence length per sentence) plus chars-per-subword compression.

    Same scale shape as bpe_apply: tokenization cost is paid once per
    DISTINCT word (the trained vocab carries each word's symbol
    count), the corpus pass is a scan + broadcast vocab join + one
    map-side-combinable per-lang rollup. Integer-exact ppm ratios."""
    _merges, vocab = _bpe_train(spark, sf_dir)
    tokv = vocab.select(
        "w",
        F.size(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\)\(")
        ).alias("n_sub"),
        F.length("w").alias("n_chars_w"),
    )
    docs = _docs(spark, sf_dir)
    dw = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.col("w").rlike("^[a-z0-9]+$"))
    agg = (
        dw.join(F.broadcast(tokv), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
            F.sum("n_chars_w").alias("n_chars"),
        )
    )
    return agg.select(
        "lang",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_subwords").cast("long").alias("n_subwords"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(
            "CAST(CAST(n_subwords AS DECIMAL(38,0)) * 1000000"
            " div n_words AS BIGINT)"
        ).alias("fertility_ppm"),
        F.expr(
            "CAST(CAST(n_chars AS DECIMAL(38,0)) * 1000000"
            " div n_subwords AS BIGINT)"
        ).alias("chars_per_subword_ppm"),
    )


QUERIES["bpe_fertility"] = q_bpe_fertility


def _bpe_fertility_oracle() -> str:
    ctes = _bpe_ctes() + [
        f"tokv AS (SELECT w, CAST(len(string_split(substring(s, 2,"
        f" length(s) - 2), ')(')) AS BIGINT) AS n_sub,"
        f" CAST(length(w) AS BIGINT) AS n_chars_w FROM s{BPE_ROUNDS})",
        "dw AS (SELECT lang, w FROM (SELECT lang,"
        f" unnest({_TOKS}) AS w FROM documents)"
        " WHERE regexp_matches(w, '^[a-z0-9]+$'))",
        "agg AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,"
        " CAST(SUM(n_sub) AS BIGINT) AS n_subwords,"
        " CAST(SUM(n_chars_w) AS BIGINT) AS n_chars"
        " FROM dw JOIN tokv USING (w) GROUP BY lang)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT lang, n_words, n_subwords, n_chars,"
        " CAST(CAST(n_subwords AS HUGEINT) * 1000000 // n_words"
        " AS BIGINT) AS fertility_ppm,"
        " CAST(CAST(n_chars AS HUGEINT) * 1000000 // n_subwords"
        " AS BIGINT) AS chars_per_subword_ppm"
        " FROM agg"
    )


ORACLES["bpe_fertility"] = _bpe_fertility_oracle()


def q_corpus_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-free language-model quality proxy: score each document by
    how FAMILIAR its word bigrams are to the corpus — the sum and
    integer-average of corpus-wide occurrence counts over the doc's
    consecutive token pairs. The log-free stand-in for perplexity
    filtering (CCNet-style): low familiarity = text whose transitions
    the corpus has rarely seen (noise, boilerplate soup, wrong-lang
    fragments); no logarithm ever enters a hashed column, so both
    engines agree exactly.

    Scale shape: one bigram explode (bounded per-row fan-out), ONE
    shuffle to count bigrams corpus-wide (uniform md5-free keys,
    map-side combinable), one join back on the bigram key, one
    per-doc rollup. At 100 TB the count relation is the corpus bigram
    vocabulary — orders of magnitude smaller than the token stream."""
    docs = _docs(spark, sf_dir)
    tk = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    bg = tk.select(
        "doc_id",
        F.explode(
            # Spark sequence(1, 0) would run DESCENDING — guard the
            # single-token case with an explicit empty array
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN"
                " transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ',"
                " element_at(toks, i + 1)))"
                " ELSE array() END"
            )
        ).alias("bg"),
    )
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("n_corpus"))
    agg = (
        bg.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("n_corpus").alias("fam_sum"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            F.coalesce("fam_sum", F.lit(0)).cast("long").alias("fam_sum"),
            F.when(F.coalesce("n_bigrams", F.lit(0)) == 0, F.lit(0))
            .otherwise(F.expr("fam_sum div n_bigrams"))
            .cast("long")
            .alias("fam_avg"),
        )
    )


QUERIES["corpus_bigram_familiarity"] = q_corpus_bigram_familiarity

ORACLES["corpus_bigram_familiarity"] = f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bg AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
       FROM tk, unnest(range(1, greatest(len(toks), 1))) AS u(i)),
counts AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_corpus
           FROM bg GROUP BY bg),
agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(n_corpus) AS BIGINT) AS fam_sum
        FROM bg JOIN counts USING (bg) GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.n_bigrams, 0) AS n_bigrams,
       COALESCE(a.fam_sum, 0) AS fam_sum,
       CASE WHEN COALESCE(a.n_bigrams, 0) = 0 THEN 0
            ELSE a.fam_sum // a.n_bigrams END AS fam_avg
FROM documents d LEFT JOIN agg a USING (doc_id)"""


#: rank pairs audited by the Zipf check: freq(r) / freq(2r)
ZIPF_RANKS = (1, 2, 4, 8, 16)


def q_corpus_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency audit: for ranks r in {ZIPF_RANKS}, the
    integer-ppm ratio freq(r) / freq(2r) over the corpus vocabulary.
    Natural language sits near ratio 2.0e6 per octave (Zipf exponent
    ~1); template/boilerplate corpora flatten it toward 1.0e6 and
    keyword-stuffed spam steepens it — a one-glance distribution
    check next to lexical diversity, with no logarithm in any hashed
    column (the exponent is the log2 of the emitted ratio if a human
    wants it).

    Scale shape: one token explode + one map-side-combinable count
    shuffle (the corpus_vocabulary pass), then a distributed top-2r
    (TakeOrderedAndProject via ranked_top_k) and a broadcast
    self-join on rank over <= 32 rows."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    from ..functions.windows import ranked_top_k

    top = ranked_top_k(
        counts, [F.col("tf").desc(), F.col("token")], 2 * max(ZIPF_RANKS)
    ).select("rank", "tf")
    a = top.select(F.col("rank").alias("r"), F.col("tf").alias("freq_r"))
    b = top.select(
        (F.col("rank") / 2).cast("int").alias("r"),
        F.col("tf").alias("freq_2r"),
        (F.col("rank") % 2).alias("_odd"),
    ).filter((F.col("_odd") == 0)).drop("_odd")
    ranks = F.col("r").isin(*ZIPF_RANKS)
    return (
        a.filter(ranks)
        .join(b.filter(ranks), "r")
        .select(
            F.col("r").cast("int").alias("r"),
            F.col("freq_r").cast("long").alias("freq_r"),
            F.col("freq_2r").cast("long").alias("freq_2r"),
            F.expr(
                "CAST(CAST(freq_r AS DECIMAL(38,0)) * 1000000"
                " div freq_2r AS BIGINT)"
            ).alias("ratio_ppm"),
        )
    )


QUERIES["corpus_zipf_audit"] = q_corpus_zipf_audit

ORACLES["corpus_zipf_audit"] = f"""
WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY token),
top AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token)
               AS INT) AS rank, tf
        FROM counts),
a AS (SELECT rank AS r, tf AS freq_r FROM top
      WHERE rank IN {ZIPF_RANKS}),
b AS (SELECT CAST(rank / 2 AS INT) AS r, tf AS freq_2r FROM top
      WHERE rank % 2 = 0 AND CAST(rank / 2 AS INT) IN {ZIPF_RANKS})
SELECT a.r, a.freq_r, b.freq_2r,
       CAST(CAST(a.freq_r AS HUGEINT) * 1000000 // b.freq_2r
            AS BIGINT) AS ratio_ppm
FROM a JOIN b USING (r)"""


def q_source_familiarity_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source bigram-familiarity drift over TIME — the temporal
    extension of corpus_source_drift (distribution) and
    corpus_bigram_familiarity (quality): did a provider's deliveries
    start reading differently last week? Each document's arrival time
    is its ingest event (event_id = doc_id in the events stream);
    arrival weeks are engine-neutral epoch-weeks (epoch_days div 7 —
    the cohort_ltv convention, no locale week rules). Familiarity is
    measured against the CORPUS-WIDE bigram counts (a fixed
    yardstick), so a week whose documents transition unusually is
    visible as drift_ppm away from the source's own overall level
    (1e6 = at level; everything exact integer, no logs, no floats in
    any hashed column).

    Scale shape: one bigram explode + ONE map-side-combinable
    corpus-count shuffle + a join back (the proven
    corpus_bigram_familiarity relation); the ingest join ships only
    (event_id, ts) against the doc-keyed side; the drift window runs
    over the tiny (source, week) cell rollup."""
    docs = _docs(spark, sf_dir)
    tk = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    bg = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN"
                " transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ',"
                " element_at(toks, i + 1)))"
                " ELSE array() END"
            )
        ).alias("bg"),
    )
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("n_corpus"))
    perdoc = (
        bg.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("n_corpus").alias("fam_sum"),
        )
    )
    ingest = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("doc_id"),
        F.expr(
            "datediff(to_date(ts), DATE '1970-01-01') div 7"
        ).alias("epoch_week"),
    )
    arr = (
        docs.select("doc_id", "source")
        .join(ingest, "doc_id")
        .join(perdoc, "doc_id", "left")
    )
    cells = arr.groupBy("source", "epoch_week").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.sum("fam_sum"), F.lit(0)).alias("fam_sum"),
    )
    wsrc = Window.partitionBy("source")
    m = cells.select(
        "source", "epoch_week", "n_docs", "n_bigrams", "fam_sum",
        F.sum("n_bigrams").over(wsrc).alias("src_nb"),
        F.sum("fam_sum").over(wsrc).alias("src_fam"),
    )
    return m.select(
        "source",
        F.col("epoch_week").cast("long").alias("epoch_week"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("fam_sum").cast("long").alias("fam_sum"),
        F.when(F.col("n_bigrams") == 0, F.lit(0))
        .otherwise(F.expr("fam_sum div n_bigrams"))
        .cast("long")
        .alias("fam_avg"),
        # (src_fam == 0) | (n_bigrams == 0), NOT src_fam * n_bigrams
        # == 0: the BIGINT product can ARITHMETIC_OVERFLOW under ANSI
        # mode at large corpora; the disjunction is overflow-free and
        # equivalent for non-negative sums.
        F.when(
            (F.col("src_fam") == 0) | (F.col("n_bigrams") == 0),
            F.lit(0),
        )
        .otherwise(
            F.expr(
                "CAST(CAST(fam_sum AS DECIMAL(38,0)) * src_nb"
                " * 1000000 div (CAST(src_fam AS DECIMAL(38,0))"
                " * n_bigrams) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("drift_ppm"),
    )


QUERIES["source_familiarity_drift"] = q_source_familiarity_drift

ORACLES["source_familiarity_drift"] = f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bg AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
       FROM tk, unnest(range(1, greatest(len(toks), 1))) AS u(i)),
counts AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_corpus
           FROM bg GROUP BY bg),
perdoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  CAST(SUM(n_corpus) AS BIGINT) AS fam_sum
           FROM bg JOIN counts USING (bg) GROUP BY doc_id),
arr AS (SELECT d.doc_id, d.source,
               datediff('day', DATE '1970-01-01', CAST(e.ts AS DATE))
                 // 7 AS epoch_week,
               COALESCE(p.n_bigrams, 0) AS n_bigrams,
               COALESCE(p.fam_sum, 0) AS fam_sum
        FROM documents d
        JOIN events e ON e.event_id = d.doc_id
        LEFT JOIN perdoc p ON p.doc_id = d.doc_id),
cells AS (SELECT source, epoch_week,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
                 CAST(SUM(fam_sum) AS BIGINT) AS fam_sum
          FROM arr GROUP BY 1, 2),
m AS (SELECT *,
             SUM(n_bigrams) OVER (PARTITION BY source) AS src_nb,
             SUM(fam_sum) OVER (PARTITION BY source) AS src_fam
      FROM cells)
SELECT source, CAST(epoch_week AS BIGINT) AS epoch_week, n_docs,
       n_bigrams, fam_sum,
       CASE WHEN n_bigrams = 0 THEN 0
            ELSE fam_sum // n_bigrams END AS fam_avg,
       CASE WHEN CAST(src_fam AS HUGEINT) * n_bigrams = 0 THEN 0
            ELSE CAST(CAST(fam_sum AS HUGEINT) * src_nb * 1000000
                 // (CAST(src_fam AS HUGEINT) * n_bigrams) AS BIGINT)
       END AS drift_ppm
FROM m"""


# ---------------------------------------------------------------------------
# Round-8 operators.
# ---------------------------------------------------------------------------

LEN_MAD_K = 3  # robust outlier threshold: dev > LEN_MAD_K * MAD


def doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-LENGTH outlier audit on the robust
    median/MAD scale — the corpus-quality screen that catches
    truncated shards and concatenation blowups without a single
    fat-tailed shard dragging the threshold (breakdown point 0.5,
    the events_robust_anomalies discipline applied to documents).
    Medians are EXACT ELEMENTS (lower median at rank (n+1) div 2),
    MAD the exact-rank median of |len - med|, the flag an integer
    compare — replayable in both engines with no floats anywhere.
    Added in round 8.

    Scale shape: documents first reduce to (lang, n_chars, count)
    CELLS — one map-side-combinable groupBy is the only corpus-scale
    pass, and length cardinality is bounded (thousands of distinct
    values), so every window and re-aggregation below runs on tiny
    cell rollups. Ranking RAW docs per language (the naive median)
    would be the classic per-key single-reducer sort at 100 TB —
    this shape never builds it."""
    docs = _docs(spark, sf_dir)
    cells = (
        docs.groupBy("lang", "n_chars")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # tiny; read by 3 consumers
    )
    wl = Window.partitionBy("lang")
    wcum = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = cells.select(
        "lang",
        "n_chars",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wl).alias("n"),
    )
    med = (
        ranked.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("lang")
        .agg(F.min("n_chars").alias("med"))
    )
    devs = (
        cells.join(F.broadcast(med), "lang")
        .groupBy("lang", F.abs(F.col("n_chars") - F.col("med")).alias("dev"))
        .agg(F.sum("cnt").alias("cnt"))
    )
    wdcum = (
        Window.partitionBy("lang")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dranked = devs.select(
        "lang",
        "dev",
        "cnt",
        F.sum("cnt").over(wdcum).alias("cum"),
        F.sum("cnt").over(wl).alias("n"),
    )
    mad = (
        dranked.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("lang")
        .agg(F.min("dev").alias("mad"))
    )
    out = (
        cells.join(F.broadcast(med), "lang")
        .join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            F.min(F.col("med")).cast("long").alias("med_chars"),
            F.min(F.col("mad")).cast("long").alias("mad_chars"),
            F.sum(
                F.when(
                    F.abs(F.col("n_chars") - F.col("med"))
                    > LEN_MAD_K * F.col("mad"),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
    return out.select(
        "lang",
        "n_docs",
        "med_chars",
        "mad_chars",
        "n_outliers",
        F.expr(
            "CAST(CAST(n_outliers AS DECIMAL(38,0)) * 1000000"
            " div n_docs AS BIGINT)"
        ).alias("outlier_ppm"),
    )


DOC_LENGTH_OUTLIERS_ORACLE = f"""
WITH cells AS (
  SELECT lang, n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1, 2),
ranked AS (
  SELECT lang, n_chars, cnt,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY lang) AS n
  FROM cells),
med AS (
  SELECT lang, MIN(n_chars) AS med FROM ranked
  WHERE cum >= (n + 1) // 2 GROUP BY lang),
devs AS (
  SELECT c.lang, abs(c.n_chars - m.med) AS dev,
         CAST(SUM(c.cnt) AS BIGINT) AS cnt
  FROM cells c JOIN med m USING (lang) GROUP BY 1, 2),
dranked AS (
  SELECT lang, dev, cnt,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY dev
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY lang) AS n
  FROM devs),
mad AS (
  SELECT lang, MIN(dev) AS mad FROM dranked
  WHERE cum >= (n + 1) // 2 GROUP BY lang)
SELECT c.lang,
       CAST(SUM(c.cnt) AS BIGINT) AS n_docs,
       CAST(MIN(m.med) AS BIGINT) AS med_chars,
       CAST(MIN(d.mad) AS BIGINT) AS mad_chars,
       CAST(COALESCE(SUM(CASE WHEN abs(c.n_chars - m.med)
                                   > {LEN_MAD_K} * d.mad
                              THEN c.cnt END), 0) AS BIGINT)
         AS n_outliers,
       CAST(CAST(COALESCE(SUM(CASE WHEN abs(c.n_chars - m.med)
                                        > {LEN_MAD_K} * d.mad
                                   THEN c.cnt END), 0) AS HUGEINT)
            * 1000000 // SUM(c.cnt) AS BIGINT) AS outlier_ppm
FROM cells c
JOIN med m USING (lang)
JOIN mad d USING (lang)
GROUP BY c.lang"""

QUERIES["doc_length_outliers"] = doc_length_outliers
ORACLES["doc_length_outliers"] = DOC_LENGTH_OUTLIERS_ORACLE


# ---------------------------------------------------------------------------
# r9-staged prebuilds, registered in round 10.
# ---------------------------------------------------------------------------

#: chunk id = doc_id * 2^20 + chunk_idx: one BIGINT key so the whole
#: proven minhash machinery (signatures, banding, verify) reuses
#: VERBATIM over chunks. Bounds: chunk_idx < 2^20 allows ~60M-token
#: documents at the production stride; doc_id must stay under 2^43.
CHUNK_ID_SHIFT = 1 << 20


def chunk_near_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level NEAR-dup audit — what document-level dedup
    cannot see: boilerplate windows (headers, navigation, license
    blocks) repeated across otherwise-distinct documents. Runs the
    proven MinHash-LSH machinery over the surviving chunks of the
    chunk_dedup relation (exact chunk dups already collapsed), keeps
    only CROSS-document verified pairs (consecutive chunks of one
    document share window-stride tokens by construction — within-doc
    pairs are noise), and rolls up per language: how many surviving
    chunks still have a tau=0.8 near-twin in another document.

    Scale: the chunk fan-out is the training set's own row count;
    signatures/banding/verify are the LSH-bounded proven shapes on
    uniform (band, key) keys; the rollup is |langs| cells. Reuses
    _minhash_signatures / _minhash_bands / _verified_pairs from
    dedup with cid-as-doc_id frames (cid = doc_id * 2^20 +
    chunk_idx), so chunk banding can never diverge from document
    banding."""
    from .dedup import (
        _minhash_bands,
        _minhash_signatures,
        _verified_pairs,
    )
    from ..functions.text import shingles_from_tokens

    docs = _docs(spark, sf_dir)
    arrays = _chunk_arrays(docs)
    surv = q_chunk_dedup(spark, sf_dir).select("doc_id", "chunk_idx")
    sarr = arrays.join(surv, ["doc_id", "chunk_idx"]).select(
        (F.col("doc_id") * CHUNK_ID_SHIFT + F.col("chunk_idx")).alias(
            "cid"
        ),
        "chunk",
    )
    sh = (
        sarr.select(
            F.col("cid").alias("doc_id"),
            F.explode(shingles_from_tokens(F.col("chunk"))).alias("sh"),
        )
        .localCheckpoint(eager=True)
    )
    bands = _minhash_bands(_minhash_signatures(sh))
    b1 = bands.select(F.col("doc_id").alias("doc_id_1"), "band", "key")
    b2 = bands.select(F.col("doc_id").alias("doc_id_2"), "band", "key")
    cand = (
        b1.join(b2, ["band", "key"])
        .filter(
            (F.col("doc_id_1") < F.col("doc_id_2"))
            & (
                F.expr(f"doc_id_1 div {CHUNK_ID_SHIFT}")
                != F.expr(f"doc_id_2 div {CHUNK_ID_SHIFT}")
            )
        )
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    ver = _verified_pairs(cand, sh)
    flagged = (
        ver.select(F.col("doc_id_1").alias("cid"))
        .union(ver.select(F.col("doc_id_2").alias("cid")))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    base = (
        q_chunk_dedup(spark, sf_dir)
        .select("doc_id", "chunk_idx")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "lang",
            (
                F.col("doc_id") * CHUNK_ID_SHIFT + F.col("chunk_idx")
            ).alias("cid"),
        )
    )
    g = base.join(flagged, "cid", "left").groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.coalesce(F.sum("hit"), F.lit(0))
        .cast("long")
        .alias("n_near_dup_chunks"),
    )
    return g.select(
        "lang",
        "n_chunks",
        "n_near_dup_chunks",
        F.expr(
            "CAST(CAST(n_near_dup_chunks AS DECIMAL(38,0)) * 1000000"
            " div n_chunks AS BIGINT)"
        ).alias("near_dup_ppm"),
    )


def _chunk_near_dup_oracle() -> str:
    from .dedup import A, B, K, NB, P, R, JACCARD_DEN, JACCARD_NUM

    min_aggs = ",\n       ".join(
        f"MIN(({A[j]} * h + {B[j]}) % {P}) AS m{j}" for j in range(K)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"m{b * R + r}::VARCHAR" for r in range(R)
            ),
        )
        for b in range(NB)
    )
    return f"""
WITH {CHUNK_H_CTES},
{CHUNK_SURVIVORS_SQL},
ch AS (
  SELECT st.doc_id,
         CAST(st.start // {CHUNK_STRIDE} AS INT) AS chunk_idx,
         st.toks[st.start + 1 : st.start + {CHUNK_TOKENS}] AS chunk
  FROM st JOIN surv
    ON surv.doc_id = st.doc_id
   AND surv.chunk_idx = CAST(st.start // {CHUNK_STRIDE} AS INT)),
cdocs AS (
  SELECT doc_id * {CHUNK_ID_SHIFT} + chunk_idx AS cid, chunk FROM ch),
shl AS (
  SELECT cid,
         list_distinct([chunk[i] || ' ' || chunk[i+1] || ' ' ||
                        chunk[i+2]
                        for i in range(1, len(chunk) - 1)]) AS shs
  FROM cdocs WHERE len(chunk) >= 3),
sh AS (SELECT cid AS doc_id, unnest(shs) AS sh FROM shl),
hs AS (SELECT doc_id,
              (('0x' || substring(md5(sh), 1, 15))::BIGINT % {P}) AS h
       FROM sh),
sig AS (SELECT doc_id, {min_aggs} FROM hs GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_id_1, b2.doc_id AS doc_id_2
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.key = b2.key
   AND b1.doc_id < b2.doc_id
  WHERE b1.doc_id // {CHUNK_ID_SHIFT} <> b2.doc_id // {CHUNK_ID_SHIFT}),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
common AS (
  SELECT p.doc_id_1, p.doc_id_2, count(*) AS cs
  FROM cand p
  JOIN sh s1 ON s1.doc_id = p.doc_id_1
  JOIN sh s2 ON s2.doc_id = p.doc_id_2 AND s2.sh = s1.sh
  GROUP BY 1, 2),
ver AS (
  SELECT doc_id_1, doc_id_2 FROM common
  JOIN cnt c1 ON doc_id_1 = c1.doc_id
  JOIN cnt c2 ON doc_id_2 = c2.doc_id
  WHERE {JACCARD_DEN} * cs >= {JACCARD_NUM} * (c1.c + c2.c - cs)),
flagged AS (
  SELECT doc_id_1 AS cid FROM ver
  UNION SELECT doc_id_2 FROM ver),
base AS (
  SELECT d2.lang, s.doc_id * {CHUNK_ID_SHIFT} + s.chunk_idx AS cid
  FROM surv s JOIN documents d2 ON d2.doc_id = s.doc_id)
SELECT b.lang,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(f.cid) AS BIGINT) AS n_near_dup_chunks,
       CAST(CAST(COUNT(f.cid) AS HUGEINT) * 1000000 // COUNT(*)
            AS BIGINT) AS near_dup_ppm
FROM base b LEFT JOIN flagged f ON f.cid = b.cid
GROUP BY b.lang"""


CHUNK_NEAR_DUP_ORACLE = _chunk_near_dup_oracle()

QUERIES["chunk_near_dup_rate"] = chunk_near_dup_rate
ORACLES["chunk_near_dup_rate"] = CHUNK_NEAR_DUP_ORACLE


def chunk_shingles(docs_df) -> DataFrame:
    """(cid-as-doc_id, sh) shingle rows for EVERY chunk of a docs
    relation — the banding input for the maintained chunk index.
    Unlike chunk_near_dup_rate's survivor-filtered relation, the
    index bands ALL chunks: survivorship is a corpus-global property
    that appends can't know, so dedup decisions stay at probe time."""
    ca = _chunk_arrays(docs_df)
    return ca.select(
        (
            F.col("doc_id") * CHUNK_ID_SHIFT + F.col("chunk_idx")
        ).alias("doc_id"),
        F.explode(shingles_from_tokens(F.col("chunk"))).alias("sh"),
    )


def chunk_bands_for(docs_df) -> DataFrame:
    """(cid, band, key) MinHash bands for every chunk — the same
    signature/banding functions as document banding (cid keys), so
    the chunk index is appendable one delivery at a time for the
    same reason the document index is (per-chunk signatures)."""
    from .dedup import _minhash_bands, _minhash_signatures

    return _minhash_bands(_minhash_signatures(chunk_shingles(docs_df)))


CHUNK_BAND_INDEX_TABLE = "chunk_band_index"
CHUNK_BAND_INDEX_BUCKETS = 8


def build_chunk_band_index(
    spark: SparkSession,
    corpus_docs: DataFrame,
    table: str = CHUNK_BAND_INDEX_TABLE,
    n_buckets: int = CHUNK_BAND_INDEX_BUCKETS,
) -> None:
    """Materialize the corpus CHUNK band index as a bucketed catalog
    table on the probe's join keys (band, key) — the doc-level
    maintained-index shape (dedup.build_minhash_band_index) lifted
    to chunk ids: per-delivery probes plan with NO Exchange on the
    corpus side, and at 100 TB the corpus' chunk bands are written
    once, never re-shuffled per delivery."""
    from ..sources.bucketing import write_bucketed

    write_bucketed(
        chunk_bands_for(corpus_docs), table, ["band", "key"], n_buckets
    )


def append_chunk_band_index(
    spark: SparkSession,
    new_docs: DataFrame,
    table: str = CHUNK_BAND_INDEX_TABLE,
    n_buckets: int = CHUNK_BAND_INDEX_BUCKETS,
) -> None:
    """Band the (small) new delivery's chunks and APPEND into the
    bucket layout — banding a subset equals filtering the full
    banding, so the index is append-only and probes stay
    exchange-free afterwards (test-pinned)."""
    from ..sources.bucketing import write_bucketed

    write_bucketed(
        chunk_bands_for(new_docs),
        table,
        ["band", "key"],
        n_buckets,
        mode="append",
    )


def probe_chunk_band_index(
    spark: SparkSession, sf_dir: str, table: str = CHUNK_BAND_INDEX_TABLE
) -> DataFrame:
    """Incremental chunk-level near-dup probe: only the NEW batch
    (the dedup_incremental doc_id convention) is chunked/banded at
    probe time; the band join leaves the bucketed index scan
    exchange-free. The verify stage needs shingle arrays for the
    matched corpus chunks — the candidate set is tiny, so at scale
    that is a semi-join fetch against the document store, expressed
    here over the same documents table. Output: verified
    (new chunk, corpus chunk) near-dup matches with overlap counts,
    cids decomposed back to (doc_id, chunk_idx)."""
    from .dedup import INCR_MOD, INCR_NEW_REM, _verified_pairs

    docs = _docs(spark, sf_dir)
    is_new = (F.col("doc_id") % INCR_MOD) == INCR_NEW_REM
    sh_all = chunk_shingles(docs).localCheckpoint(eager=True)
    bn = chunk_bands_for(docs.filter(is_new)).select(
        F.col("doc_id").alias("doc_id_1"), "band", "key"
    )
    idx = spark.table(table).select(
        F.col("doc_id").alias("doc_id_2"), "band", "key"
    )
    cand = (
        bn.join(idx, ["band", "key"])
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    ver = _verified_pairs(cand, sh_all)
    return ver.select(
        F.expr(f"doc_id_1 div {CHUNK_ID_SHIFT}").alias("new_doc_id"),
        F.expr(f"doc_id_1 % {CHUNK_ID_SHIFT}").alias("new_chunk_idx"),
        F.expr(f"doc_id_2 div {CHUNK_ID_SHIFT}").alias("corpus_doc_id"),
        F.expr(f"doc_id_2 % {CHUNK_ID_SHIFT}").alias("corpus_chunk_idx"),
        "common_shingles",
        "shingles_1",
        "shingles_2",
    )


# ---------------------------------------------------------------------------
# REGISTERED r13.
# decontam_threshold_sweep + repeat_cap_sweep: the hygiene and
# epoch-policy knobs, each costed from one pass.
# ---------------------------------------------------------------------------

#: minimum overlapping-shingle counts swept — the registered
#: decontamination rule (ANY overlap, threshold 1) is the strictest
DECON_THRESHOLD_SWEEP = (1, 2, 4)

_DTS_NS = "dts:"  # membership-checksum namespace


def decontam_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What the decontamination strictness knob costs: for each swept
    minimum-overlap threshold (flag a document only if it shares >= m
    shingles with the benchmark set), the documents and tokens the
    rule would REMOVE, plus a membership checksum of the flagged set —
    the trade every training-data report debates (exact-match vs
    >=k-overlap blocklists). Flagged sets provably NEST as the
    threshold rises (same overlap counts, tighter filter — pinned),
    and the m=1 row is identity-pinned to the registered
    corpus_decontaminate relation, so the telemetry cannot disagree
    with the shipped rule.

    Scale shape (sweep-family): the overlap counts are the registered
    operator's own plan (broadcast benchmark probe, one per-doc
    count), computed ONCE and joined to per-doc token counts — a
    relation bounded by the CONTAMINATED doc count, not the corpus;
    the swept constants explode per flagged row and roll up to
    |sweep| cells through an explicit spine (a threshold that flags
    nothing emits its zero row)."""
    from ..functions.text import md5_long

    overlaps = q_corpus_decontaminate(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("nt"),
    )
    base = (
        overlaps.join(docs, "doc_id")
        .select(
            "doc_id",
            "n_contaminated_shingles",
            "nt",
            md5_long(
                F.concat(F.lit(_DTS_NS), F.col("doc_id").cast("string"))
            ).alias("h"),
        )
        .localCheckpoint(eager=True)  # overlap pass exactly once
    )
    ms = F.array(
        *[F.lit(m).cast("int") for m in DECON_THRESHOLD_SWEEP]
    )
    spine = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_overlapping")
    ).withColumn("min_overlap", F.explode(ms))
    grouped = (
        base.withColumn("min_overlap", F.explode(ms))
        .filter(F.col("n_contaminated_shingles") >= F.col("min_overlap"))
        .groupBy("min_overlap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_flagged"),
            F.sum("nt").cast("long").alias("tokens_flagged"),
            F.expr("bit_xor(h)").alias("flagged_checksum"),
        )
    )
    return spine.join(grouped, "min_overlap", "left").select(
        "min_overlap",
        "n_overlapping",
        F.coalesce(F.col("n_flagged"), F.lit(0)).cast("long").alias(
            "n_flagged"
        ),
        F.coalesce(F.col("tokens_flagged"), F.lit(0)).cast("long").alias(
            "tokens_flagged"
        ),
        F.coalesce(F.col("flagged_checksum"), F.lit(0)).alias(
            "flagged_checksum"
        ),
    )


def _decontam_sweep_oracle() -> str:
    from ..functions.text import md5_long_sql

    cells = ", ".join(f"({m})" for m in DECON_THRESHOLD_SWEEP)
    h = md5_long_sql(f"'{_DTS_NS}' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH ov AS ({_decontaminate_oracle()}),
base AS (
  SELECT ov.doc_id, ov.n_contaminated_shingles,
         CAST(len({_TOKS}) AS BIGINT) AS nt, {h} AS h
  FROM ov JOIN documents USING (doc_id)),
tot AS (SELECT COUNT(*) AS n_overlapping FROM base),
sp AS (SELECT * FROM (VALUES {cells}) t(min_overlap)),
agg AS (
  SELECT sp.min_overlap, COUNT(*) AS n_flagged,
         SUM(nt) AS tokens_flagged, BIT_XOR(h) AS cs
  FROM base, sp
  WHERE base.n_contaminated_shingles >= sp.min_overlap
  GROUP BY sp.min_overlap)
SELECT CAST(sp.min_overlap AS INT) AS min_overlap,
       CAST(tot.n_overlapping AS BIGINT) AS n_overlapping,
       CAST(COALESCE(agg.n_flagged, 0) AS BIGINT) AS n_flagged,
       CAST(COALESCE(agg.tokens_flagged, 0) AS BIGINT)
         AS tokens_flagged,
       COALESCE(agg.cs, 0) AS flagged_checksum
FROM sp CROSS JOIN tot
LEFT JOIN agg ON agg.min_overlap = sp.min_overlap"""


DECON_SWEEP_ORACLE = _decontam_sweep_oracle()


#: epoch caps swept (ppm; 1e6 = one epoch) — the registered
#: REPEAT_CAP_PPM (4 epochs) sits in the middle
REPEAT_CAP_SWEEP = (2_000_000, 4_000_000, 8_000_000)


def repeat_cap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the 'don't repeat small data forever' cap costs per
    language: for each swept epoch cap, the share-equalizing repeat
    factor each language would get and the EFFECTIVE tokens it then
    contributes (n_tokens * repeat_ppm div 1e6) — the table a mixture
    designer reads before moving the cap. repeat_ppm is provably
    monotone in the cap (min(cap, equalizer) — pinned), and the
    cap=REPEAT_CAP_PPM rows are identity-pinned to the registered
    corpus_repeat_factors.

    Scale shape: ONE corpus token scan into the |langs|-row
    aggregate (the registered operator's own plan); the swept caps
    are pure arithmetic over that bounded relation — no second pass,
    no spine needed (every language emits a row per cap)."""
    from ..functions.windows import bounded_spec

    docs = _docs(spark, sf_dir)
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text"))).cast("long")).alias(
            "n_tokens"
        ),
    )
    w = bounded_spec(agg)  # |langs| rows by construction
    base = agg.withColumn(
        "total_tokens", F.sum("n_tokens").over(w)
    ).withColumn("n_langs", F.count(F.lit(1)).over(w))
    return (
        base.withColumn(
            "cap_ppm",
            F.explode(
                F.array(
                    *[F.lit(c).cast("int") for c in REPEAT_CAP_SWEEP]
                )
            ),
        )
        .select(
            "cap_ppm",
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.least(
                F.col("cap_ppm").cast("decimal(38,0)"),
                F.expr(
                    f"CAST(total_tokens AS DECIMAL(38,0)) * {PPM} "
                    f"div (n_langs * n_tokens)"
                ),
            ).cast("long").alias("repeat_ppm"),
        )
        .withColumn(
            "effective_tokens",
            F.expr(
                f"CAST(CAST(n_tokens AS DECIMAL(38,0)) * repeat_ppm"
                f" div {PPM} AS BIGINT)"
            ),
        )
    )


def _repeat_cap_sweep_oracle() -> str:
    cells = ", ".join(f"({c})" for c in REPEAT_CAP_SWEEP)
    return f"""
WITH agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             COUNT(*) AS n_langs FROM agg),
sp AS (SELECT * FROM (VALUES {cells}) s(cap_ppm)),
r AS (
  SELECT sp.cap_ppm, agg.lang, agg.n_docs, agg.n_tokens,
         CAST(LEAST(CAST(sp.cap_ppm AS HUGEINT),
                    CAST(t.total_tokens AS HUGEINT) * {PPM}
                    // (t.n_langs * agg.n_tokens)) AS BIGINT)
           AS repeat_ppm
  FROM agg, t, sp)
SELECT CAST(cap_ppm AS INT) AS cap_ppm, lang, n_docs, n_tokens,
       repeat_ppm,
       CAST(CAST(n_tokens AS HUGEINT) * repeat_ppm // {PPM} AS BIGINT)
         AS effective_tokens
FROM r"""


REPEAT_CAP_SWEEP_ORACLE = _repeat_cap_sweep_oracle()


#: (chunk_tokens, stride) grid swept — the registered
#: (CHUNK_TOKENS, CHUNK_STRIDE) = (64, 56) sits in the middle; all
#: three keep the same 8-token overlap so the curve isolates the
#: WINDOW-SIZE decision
CHUNK_SIZE_GRID = ((32, 24), (64, 56), (128, 120))

_CSS_NS = "css:"  # distribution-checksum namespace


def corpus_chunk_size_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What a context-window migration costs BEFORE re-chunking
    anything: chunk counts, emitted-token totals, and the overlap
    overhead for each (chunk_tokens, stride) config, computed
    ANALYTICALLY from one token-length scan — no per-config fan-out.
    The chunker's keep rule (s = 0 or s + T - S < L over stride
    multiples) closes to exact integer arithmetic: positive kept
    starts n_pos = (L - T + S - 1) div S when L > T else 0, every
    chunk before the last is provably full (j+1 kept ⇒ jS + T < L),
    so emitted tokens = n_pos*T + least(T, L - n_pos*S). All operands
    stay non-negative inside the CASE, so Spark's truncating div and
    DuckDB's flooring // agree. The registered grid cell is
    identity-pinned against the REAL chunker's aggregate (the formula
    is verified by the operator it predicts), and a per-doc
    distribution checksum (bit_xor over md5('css:'||doc||':'||k))
    attests the whole chunk-count histogram, not just totals.

    Scale shape: ONE corpus scan to per-doc token lengths; the grid
    explodes |grid| small structs per doc and rolls up to |grid|
    cells — the cheapest sweep in the family (no heavy pass at
    all)."""
    from ..functions.text import md5_long

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("L"),
    )
    grid = F.array(
        *[
            F.struct(
                F.lit(t).cast("int").alias("ct"),
                F.lit(s).cast("int").alias("cs"),
            )
            for t, s in CHUNK_SIZE_GRID
        ]
    )
    e = (
        docs.withColumn("cfg", F.explode(grid))
        .select(
            "doc_id",
            "L",
            F.col("cfg.ct").alias("chunk_tokens"),
            F.col("cfg.cs").alias("stride"),
        )
        .withColumn(
            "n_pos",
            F.expr(
                "CASE WHEN L > chunk_tokens THEN"
                " (L - chunk_tokens + stride - 1) div stride"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .withColumn("k", F.col("n_pos") + 1)
        .withColumn(
            "tok",
            F.expr(
                "n_pos * chunk_tokens"
                " + least(CAST(chunk_tokens AS BIGINT),"
                "         L - n_pos * stride)"
            ),
        )
    )
    agg = e.groupBy("chunk_tokens", "stride").agg(
        F.sum("k").cast("long").alias("n_chunks"),
        F.sum("tok").cast("long").alias("chunk_token_total"),
        F.sum("L").cast("long").alias("corpus_tokens"),
        F.expr(
            f"bit_xor(CAST(conv(substring(md5(concat('{_CSS_NS}',"
            " cast(doc_id as string), ':', cast(k as string)))"
            ", 1, 15), 16, 10) AS BIGINT))"
        ).alias("dist_checksum"),
    )
    return agg.select(
        "chunk_tokens",
        "stride",
        "n_chunks",
        "chunk_token_total",
        F.expr(
            "CAST(CAST(chunk_token_total AS DECIMAL(38,0)) * 1000000"
            " div corpus_tokens AS BIGINT)"
        ).alias("overhead_ppm"),
        "dist_checksum",
    )


def _chunk_size_sweep_oracle() -> str:
    from ..functions.text import md5_long_sql

    cells = ", ".join(f"({t}, {s})" for t, s in CHUNK_SIZE_GRID)
    h = md5_long_sql(
        f"'{_CSS_NS}' || CAST(doc_id AS VARCHAR) || ':'"
        " || CAST(k AS VARCHAR)"
    )
    return f"""
WITH d AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS L FROM documents),
sp AS (SELECT * FROM (VALUES {cells}) t(chunk_tokens, stride)),
e AS (
  SELECT doc_id, L, chunk_tokens, stride,
         CASE WHEN L > chunk_tokens
              THEN (L - chunk_tokens + stride - 1) // stride
              ELSE 0 END AS n_pos
  FROM d, sp),
k AS (
  SELECT doc_id, L, chunk_tokens, stride, n_pos, n_pos + 1 AS k,
         n_pos * chunk_tokens
           + LEAST(CAST(chunk_tokens AS BIGINT), L - n_pos * stride)
           AS tok
  FROM e)
SELECT CAST(chunk_tokens AS INT) AS chunk_tokens,
       CAST(stride AS INT) AS stride,
       CAST(SUM(k) AS BIGINT) AS n_chunks,
       CAST(SUM(tok) AS BIGINT) AS chunk_token_total,
       CAST(CAST(SUM(tok) AS HUGEINT) * 1000000 // SUM(L) AS BIGINT)
         AS overhead_ppm,
       BIT_XOR({h}) AS dist_checksum
FROM k GROUP BY 1, 2"""


CHUNK_SIZE_SWEEP_ORACLE = _chunk_size_sweep_oracle()

# registered r13
QUERIES["decontam_threshold_sweep"] = decontam_threshold_sweep
ORACLES["decontam_threshold_sweep"] = DECON_SWEEP_ORACLE
QUERIES["repeat_cap_sweep"] = repeat_cap_sweep
ORACLES["repeat_cap_sweep"] = REPEAT_CAP_SWEEP_ORACLE
QUERIES["corpus_chunk_size_sweep"] = corpus_chunk_size_sweep
ORACLES["corpus_chunk_size_sweep"] = CHUNK_SIZE_SWEEP_ORACLE


# ---------------------------------------------------------------------------
# Round-13 operators.
# mixture_temperature_sweep: the temperature knob on mixture weights.
# ---------------------------------------------------------------------------

#: sampling temperatures swept — weight_i ∝ share_i^(1/T). T=1 is the
#: registered proportional mixture (identity-pinned to
#: corpus_mixture_weights); T=2 and T=4 progressively flatten the
#: distribution toward uniform, the standard low-resource-upsampling
#: move (mT5/XLM-R sample with alpha = 1/T in {0.5, 0.25}).
MIXTURE_TEMP_SWEEP = (1, 2, 4)


def mixture_temperature_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What sampling temperature does to the training mixture: for
    each swept T, every (lang, source) cell's weight in ppm under
    weight ∝ n_tokens^(1/T). The whole sweep stays in EXACT integer
    space so both engines agree bit-for-bit: the T-th-root is the
    iterated floor-isqrt (T=1 → n_tokens, T=2 → isqrt, T=4 →
    isqrt∘isqrt — floor(sqrt(floor(sqrt(x)))) IS floor(x^(1/4))), and
    floor(sqrt(BIGINT)) is engine-stable because IEEE-754 sqrt is
    correctly rounded and token counts stay far below 2^52 (the
    double-precision exactness bound; at 2^52 tokens ~ a 4-exabyte
    corpus). The T=1 rows are identity-pinned to the registered
    corpus_mixture_weights.share_ppm.

    Scale shape (sweep-family): ONE corpus pass builds the
    |langs|x|sources| aggregate; the swept temperatures explode over
    that bounded relation and each temperature's total rides a window
    partitioned by the sweep key (3 x |cells| rows, never the data)."""
    docs = _docs(spark, sf_dir)
    agg = docs.groupBy("lang", "source").agg(
        F.sum(F.size(tokens(F.col("text"))).cast("long")).alias(
            "n_tokens"
        ),
    )
    temps = F.array(*[F.lit(t).cast("int") for t in MIXTURE_TEMP_SWEEP])
    per = agg.withColumn("t_temp", F.explode(temps)).withColumn(
        "w_raw",
        F.expr(
            "CASE t_temp WHEN 1 THEN n_tokens"
            " WHEN 2 THEN CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)))"
            "             AS BIGINT)"
            " ELSE CAST(FLOOR(SQRT(FLOOR(SQRT(CAST(n_tokens"
            "             AS DOUBLE))))) AS BIGINT) END"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("t_temp")
    return (
        per.withColumn("total_w", F.sum("w_raw").over(w))
        .select(
            "t_temp",
            "lang",
            "source",
            "n_tokens",
            F.expr(
                "CASE WHEN total_w = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(CAST(w_raw AS DECIMAL(38,0)) * 1000000"
                " div total_w AS BIGINT) END"
            ).alias("weight_ppm"),
        )
    )


def _mixture_temp_sweep_oracle() -> str:
    cells = ", ".join(f"({t})" for t in MIXTURE_TEMP_SWEEP)
    return f"""
WITH agg AS (
  SELECT lang, source,
         CAST(SUM(len(string_split(lower(trim(regexp_replace(text,
              '\\s+', ' ', 'g'))), ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source),
sp AS (SELECT * FROM (VALUES {cells}) t(t_temp)),
per AS (
  SELECT sp.t_temp, lang, source, n_tokens,
         CASE sp.t_temp WHEN 1 THEN n_tokens
              WHEN 2 THEN CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)))
                          AS BIGINT)
              ELSE CAST(FLOOR(SQRT(FLOOR(SQRT(CAST(n_tokens
                          AS DOUBLE))))) AS BIGINT) END AS w_raw
  FROM agg, sp),
tot AS (SELECT t_temp, CAST(SUM(w_raw) AS BIGINT) AS total_w
        FROM per GROUP BY t_temp)
SELECT CAST(per.t_temp AS INT) AS t_temp, lang, source, n_tokens,
       CAST(CASE WHEN tot.total_w = 0 THEN 0
                 ELSE CAST(per.w_raw AS HUGEINT) * 1000000
                      // tot.total_w END AS BIGINT) AS weight_ppm
FROM per JOIN tot ON tot.t_temp = per.t_temp"""


MIXTURE_TEMP_SWEEP_ORACLE = _mixture_temp_sweep_oracle()
QUERIES["mixture_temperature_sweep"] = mixture_temperature_sweep
ORACLES["mixture_temperature_sweep"] = MIXTURE_TEMP_SWEEP_ORACLE


# ---------------------------------------------------------------------------
# Round-13 operators.
# ingestion_text_attest: the same end-to-end discipline over the
# wholetext corpus source — documents written to REAL files under TWO
# shard directories, ingested back through read_text_corpus, and
# attested by content group: the recursive listing found every copy,
# the round trip is byte-exact, and the content-hash ids collapse
# exactly the way grouping the ORIGINAL table by text says they must.
# ---------------------------------------------------------------------------

#: Expected attested-doc count for the file-IO ingestion attests. The
#: per-doc file writes are the ONLY linear-in-corpus term these
#: harnesses carry (r13 scale probes: 4.56 / 2.46 per 100x — the two
#: worst in the repo), so the attested set is a deterministic md5
#: hash-sample of ~this many documents (the KM_SAMPLE_MOD discipline):
#: keep doc iff h48 <= (TARGET * 2^48 - 1) // COUNT(*), h48 a
#: NAMESPACED 48-bit md5 slice of the doc_id ('ing:' prefix — never
#: the same bits as the text checksums). Expected sample size is
#: min(n, ~TARGET) at every corpus size, so the attest's cost is flat
#: while the oracle stays EXACT over the sampled set (both engines
#: apply the identical integer predicate).
INGEST_SAMPLE_TARGET = 256
_INGEST_H48_MAX = (1 << 48) - 1  # 12 hex chars


def _ingest_sample_thr(n_total: int) -> int:
    """Exact integer keep-threshold: h48 <= thr keeps ~TARGET docs."""
    return (INGEST_SAMPLE_TARGET * (1 << 48) - 1) // max(n_total, 1)


def ingest_sample_hash(doc_id: Column) -> Column:
    """48-bit namespaced sampling hash (Spark side of the twin)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ing:"), doc_id.cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")


#: SQL twin of (ingest_sample_hash(doc_id) <= _ingest_sample_thr(n)):
#: DuckDB // is integer division; 256 * 2^48 = 2^56 fits BIGINT.
INGEST_SAMPLE_SQL = (
    "('0x' || substring(md5('ing:' || CAST(doc_id AS VARCHAR)), 1, 12))"
    f"::BIGINT <= ({INGEST_SAMPLE_TARGET} * {1 << 48} - 1)"
    " // (SELECT COUNT(*) FROM documents)"
)


def q_ingestion_text_attest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end wholetext-ingestion attest. Every non-empty document
    in the deterministic ~INGEST_SAMPLE_TARGET-doc hash-sample (see
    INGEST_SAMPLE_SQL — bounds the per-doc file writes so the attest's
    cost is flat in corpus size; the oracle applies the identical
    predicate, so it stays exact over the sampled set) is written
    verbatim to <doc_id>.txt under BOTH shard dirs a/ and
    b/ (the crawl-drop layout whose path-tail collisions motivated
    content-hash ids in the first place); the corpus re-enters through
    read_text_corpus (recursive wholetext, one doc per file,
    content-md5 doc_id) and is grouped BY that content id. Per content
    group the output attests: rep_doc_id (the smallest sampled
    doc_id whose text landed in the group — parsed back from the file
    paths), n_files (2x the number of sampled documents sharing the
    text: both shard copies of every one were listed), and a 60-bit
    md5 checksum of the ROUND-TRIPPED text. The DuckDB oracle computes
    the same relation straight from the documents table with GROUP BY
    text — so a byte-mangled round trip, a missed file, or a
    content-id that failed to collapse duplicates all go red. Empty
    documents are excluded on both sides (wholetext emits no record
    for zero-byte files — the documented source semantics).

    Scale shape: the write pass is mapInPandas (distributed,
    idempotent) over the BOUNDED sample; the read is the production
    source; the group-by is on the content id. The temp dir stands in
    for shared storage and is removed EAGERLY once the result is
    checkpointed (long-lived sweep drivers must not accumulate
    corpus-sized temp dirs)."""
    import atexit
    import os
    import shutil
    import tempfile

    from ..functions.text import md5_long
    from ..sources.io import read_text_corpus

    d = tempfile.mkdtemp(prefix="tfdp-ingest-txt-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    for sub in ("a", "b"):
        os.makedirs(os.path.join(d, sub), exist_ok=True)
    base = _docs(spark, sf_dir)
    thr = _ingest_sample_thr(base.count())
    docs = (
        base.select("doc_id", "text")
        .filter(F.length("text") > 0)
        .filter(ingest_sample_hash(F.col("doc_id")) <= F.lit(thr))
    )

    def write(batches):
        for pdf in batches:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for sub in ("a", "b"):
                    p = os.path.join(d, sub, f"{doc_id}.txt")
                    with open(p, "w", encoding="utf-8") as f:
                        f.write(text)
            yield pd.DataFrame({"n": [len(pdf)]})

    import pandas as pd  # noqa: F811 — kernel-local, matches module use

    docs.mapInPandas(write, schema="n long").agg(F.sum("n")).collect()

    ing = read_text_corpus(spark, d)
    out = (
        ing.groupBy("doc_id")
        .agg(
            F.min(
                F.regexp_extract("path", "([0-9]+)[.]txt$", 1).cast(
                    "long"
                )
            ).alias("rep_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.min(md5_long(F.col("text"))).alias("text_checksum"),
        )
        .select("rep_doc_id", "n_files", "text_checksum")
        # materialize BEFORE the temp corpus vanishes; also frees the
        # dir eagerly instead of at interpreter exit (ADVICE r13)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(d, ignore_errors=True)
    return out


INGEST_TEXT_ATTEST_ORACLE = f"""
SELECT CAST(MIN(doc_id) AS BIGINT) AS rep_doc_id,
       CAST(2 * COUNT(*) AS BIGINT) AS n_files,
       ('0x' || substring(md5(text), 1, 15))::BIGINT AS text_checksum
FROM documents WHERE length(text) > 0 AND {INGEST_SAMPLE_SQL}
GROUP BY text"""
QUERIES["ingestion_text_attest"] = q_ingestion_text_attest
ORACLES["ingestion_text_attest"] = INGEST_TEXT_ATTEST_ORACLE


# ---------------------------------------------------------------------------
# Round-13 operators.
# ingestion_stream_attest: the end-to-end oracle over the LAST
# ingestion path without one — the STREAMING JSONL source. Documents
# are exported as real JSONL drop files, re-ingested through
# stream_jsonl_corpus + an availableNow drain into a file sink (the
# production drive pattern), and attested per document against SQL
# computed straight from the original table.
# ---------------------------------------------------------------------------


def q_ingestion_stream_attest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end streaming-ingestion attest. The documents table is
    written as JSONL drop files (Spark's json writer — one record per
    line, newlines escaped in-band: the crawl-delivery format the
    streaming source is built for), then re-enters through the REAL
    streaming path: stream_jsonl_corpus with its pinned schema,
    drained exactly-once into a parquet sink with an availableNow
    trigger (the memory sink cannot recover checkpoints — the
    established drive pattern). The drained sink is attested per
    document: (lang, source) rode the stream intact and a 60-bit md5
    checksum of the STREAMED text equals md5 of the original computed
    by DuckDB — so a schema drift, a line-splitting regression (the
    wholetext footgun this source exists to avoid), a dropped or
    duplicated record, or any text mangling through the JSON round
    trip goes red.

    Scale shape: export, drain, and re-read are all distributed; the
    drain state is a fresh per-call checkpoint (deterministic — the
    attest re-streams everything, availableNow bounds it). The temp
    dirs stand in for the shared landing/sink storage of a cluster."""
    import atexit
    import shutil
    import tempfile

    from ..functions.text import md5_long
    from ..streaming.balance_stream import (
        CORPUS_JSONL_SCHEMA,
        stream_jsonl_corpus,
    )

    dirs = {
        k: tempfile.mkdtemp(prefix=f"tfdp-ingest-jsonl-{k}-")
        for k in ("src", "chk", "out")
    }
    for d in dirs.values():
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", "source", "text")
        .write.mode("overwrite")
        .json(dirs["src"])
    )
    q = (
        stream_jsonl_corpus(spark, dirs["src"])
        .writeStream.format("parquet")
        .option("path", dirs["out"])
        .option("checkpointLocation", dirs["chk"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = (
        spark.read.schema(CORPUS_JSONL_SCHEMA)
        .parquet(dirs["out"])
        .select(
            "doc_id",
            "lang",
            "source",
            md5_long(F.col("text")).alias("text_checksum"),
        )
        # materialize, then free the landing/checkpoint/sink dirs
        # eagerly instead of at interpreter exit (ADVICE r13)
        .localCheckpoint(eager=True)
    )
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    return out


INGEST_STREAM_ATTEST_ORACLE = """
SELECT doc_id, lang, source,
       ('0x' || substring(md5(text), 1, 15))::BIGINT AS text_checksum
FROM documents"""
QUERIES["ingestion_stream_attest"] = q_ingestion_stream_attest
ORACLES["ingestion_stream_attest"] = INGEST_STREAM_ATTEST_ORACLE


# ---------------------------------------------------------------------------
# corpus_funnel_stream_attest (r14-staged, REGISTERED r15): the
# ingestion_stream_attest discipline applied to the STREAMING HEAD of
# the curation funnel end-to-end — the r13 verdict's named r15
# candidate.
# ---------------------------------------------------------------------------


def q_corpus_funnel_stream_attest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end attest of the streaming corpus funnel
    (streaming.balance_stream.corpus_funnel_stream): the documents
    table is exported as JSONL drop files (repartitioned past
    maxFilesPerTrigger so the drain spans MULTIPLE micro-batches —
    the dedup state must work across batches, not just within one),
    the benchmark shingle blocklist is built from the table itself
    with the registered corpus_decontaminate convention
    (doc_id % BENCH_DOC_MOD == 0 docs are the stand-in eval set),
    the funnel streams the drops through decontamination + full-md5
    exact dedup, and an availableNow drain lands survivors in a
    parquet sink. The sink is attested per 60-bit content checksum:
    n_variants counts the emitted rows sharing that checksum (one
    per distinct FULL 128-bit content group — so a dedup key that
    silently truncated would collapse colliding groups and go red
    against the oracle's COUNT(DISTINCT md5(text))). The DuckDB
    oracle recomputes the whole funnel in SQL: shingles, benchmark
    blocklist, the contaminated set, the clean rule (non-benchmark id
    AND zero shingle overlap — sub-3-token docs shingle to empty and
    pass, the registered corpus_clean treatment), then groups clean
    texts by checksum. A lost drop file, a decontamination miss, a
    duplicate that leaked through state recovered across batches, or
    an over-dropped survivor all go red.

    Scale shape: export, streaming probe (broadcast blocklist),
    dedup state, and drain are all distributed; the drain state is a
    fresh per-call checkpoint (availableNow bounds it). Temp dirs
    stand in for shared landing/sink storage and are freed eagerly
    once the result is checkpointed."""
    import atexit
    import shutil
    import tempfile

    from ..functions.text import md5_long
    from ..streaming.balance_stream import corpus_funnel_stream

    dirs = {
        k: tempfile.mkdtemp(prefix=f"tfdp-funnel-{k}-")
        for k in ("src", "chk", "out")
    }
    for d in dirs.values():
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    docs = _docs(spark, sf_dir)
    (
        docs.select("doc_id", "lang", "source", "text")
        # 32 drop files > maxFilesPerTrigger=16: the drain runs >= 2
        # micro-batches, so cross-batch dedup state is exercised
        .repartition(32)
        .write.mode("overwrite")
        .json(dirs["src"])
    )
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    blocklist = (
        toks.filter(F.col("doc_id") % BENCH_DOC_MOD == 0)
        .select(
            F.explode(shingles_from_tokens(F.col("toks"))).alias("sh")
        )
        .distinct()
    )
    q = (
        corpus_funnel_stream(
            spark, dirs["src"], blocklist, bench_doc_mod=BENCH_DOC_MOD
        )
        .writeStream.format("parquet")
        .option("path", dirs["out"])
        .option("checkpointLocation", dirs["chk"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = (
        spark.read.schema(
            "doc_id long, lang string, source string, content_hash long"
        )
        .parquet(dirs["out"])
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("n_variants"))
        # materialize, then free the landing/checkpoint/sink dirs
        # eagerly instead of at interpreter exit
        .localCheckpoint(eager=True)
    )
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    return out


def _funnel_stream_attest_oracle() -> str:
    # shingle CTEs owned by dedup — the same normalization + 3-gram
    # construction corpus_decontaminate's oracle builds from
    from .dedup import _SHINGLE_CTES

    return f"""
WITH {_SHINGLE_CTES},
bench AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCH_DOC_MOD} = 0),
contaminated AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (sh)
  WHERE s.doc_id % {BENCH_DOC_MOD} <> 0),
clean AS (
  SELECT text FROM documents
  WHERE doc_id % {BENCH_DOC_MOD} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated))
SELECT {md5_long_sql('text')} AS content_hash,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_variants
FROM clean GROUP BY 1"""


FUNNEL_STREAM_ATTEST_ORACLE = _funnel_stream_attest_oracle()
QUERIES["corpus_funnel_stream_attest"] = q_corpus_funnel_stream_attest
ORACLES["corpus_funnel_stream_attest"] = FUNNEL_STREAM_ATTEST_ORACLE


# ---------------------------------------------------------------------------
# corpus_perplexity_buckets (r14-staged, REGISTERED r15): CCNet-style
# head/middle/tail perplexity bucketing, made oracle-exact by an
# INTEGER floor-log2.
# ---------------------------------------------------------------------------


def q_corpus_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    each document by the bits an order-1 (bigram) corpus LM spends on
    it, then split each language's scored docs into HEAD / MIDDLE /
    TAIL
    thirds — the published recipe keeps head+middle and drops or
    down-weights the tail. corpus_bigram_familiarity is the log-FREE
    count average (rare transitions barely move it); this operator is
    the log-WEIGHTED complement, where one never-seen-elsewhere
    transition costs as many bits as thousands of common ones.

    Exactness: the per-bigram cost is the INTEGER
    bits(bg) = ilog2(N_total) - ilog2(n_corpus(bg)), with
    ilog2(x) = length(bin(x)) - 1 — Spark's bin() and DuckDB's bin()
    both render the minimal binary string, so floor-log2 is
    bit-identical in both engines and no floating log ever enters a
    hashed column. Buckets are rank tertiles per language
    (ntile(3) ordered by avg_bits_ppm with doc_id tiebreak — standard
    SQL ntile distributes remainders to the first buckets in both
    engines). Docs with zero bigrams (< 2 tokens) carry no LM
    evidence and are excluded from bucketing, same rule both sides.

    Scale shape: identical to the proven corpus_bigram_familiarity
    chain — one bounded bigram explode, ONE map-side-combinable count
    shuffle over the bigram vocabulary, a 1-row broadcast grand
    total, one join back, one per-doc rollup; then the tertile window
    runs over doc-level SCORES (rows = documents, not tokens) and the
    final rollup emits <= 3 rows per language. At 100 TB the window
    input is the doc-score relation — the cheap end of the pipeline."""
    docs = _docs(spark, sf_dir)
    tk = docs.select(
        "doc_id", "lang", tokens(F.col("text")).alias("toks")
    )
    bg = tk.select(
        "doc_id",
        "lang",
        F.explode(
            # Spark sequence(1, 0) would run DESCENDING — guard the
            # single-token case with an explicit empty array
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN"
                " transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ',"
                " element_at(toks, i + 1)))"
                " ELSE array() END"
            )
        ).alias("bg"),
    )
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("n_corpus"))
    total = counts.agg(
        F.expr(
            "CAST(length(bin(CAST(sum(n_corpus) AS BIGINT))) - 1"
            " AS BIGINT)"
        ).alias("lbits")
    )
    perdoc = (
        bg.join(counts, "bg")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.expr("length(bin(n_corpus)) - 1")).alias("fam_bits"),
        )
    )
    scored = perdoc.join(F.broadcast(total)).select(
        "doc_id",
        "lang",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.expr("n_bigrams * lbits - fam_bits").cast("long").alias(
            "bits_sum"
        ),
        F.expr(
            "CAST(CAST(n_bigrams * lbits - fam_bits AS DECIMAL(38,0))"
            " * 1000000 div n_bigrams AS BIGINT)"
        ).alias("avg_bits_ppm"),
    )
    bucketed = scored.select(
        "lang",
        "bits_sum",
        "avg_bits_ppm",
        F.ntile(3)
        .over(
            Window.partitionBy("lang").orderBy("avg_bits_ppm", "doc_id")
        )
        .cast("long")
        .alias("bucket"),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("bits_sum").cast("long").alias("total_bits"),
        F.min("avg_bits_ppm").cast("long").alias("min_avg_bits_ppm"),
        F.max("avg_bits_ppm").cast("long").alias("max_avg_bits_ppm"),
    )


PERPLEXITY_BUCKETS_ORACLE = f"""
WITH tk AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
bg AS (SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS bg
       FROM tk, unnest(range(1, greatest(len(toks), 1))) AS u(i)),
counts AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_corpus
           FROM bg GROUP BY bg),
tot AS (SELECT CAST(length(bin(CAST(SUM(n_corpus) AS BIGINT))) - 1
               AS BIGINT) AS lbits FROM counts),
perdoc AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  CAST(SUM(length(bin(n_corpus)) - 1) AS BIGINT)
                    AS fam_bits
           FROM bg JOIN counts USING (bg) GROUP BY doc_id, lang),
scored AS (SELECT doc_id, lang, n_bigrams,
                  n_bigrams * lbits - fam_bits AS bits_sum,
                  CAST(CAST(n_bigrams * lbits - fam_bits AS HUGEINT)
                       * 1000000 // n_bigrams AS BIGINT)
                    AS avg_bits_ppm
           FROM perdoc, tot),
bucketed AS (SELECT lang, bits_sum, avg_bits_ppm,
                    ntile(3) OVER (PARTITION BY lang
                                   ORDER BY avg_bits_ppm, doc_id)
                      AS bucket
             FROM scored)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(bits_sum) AS BIGINT) AS total_bits,
       CAST(MIN(avg_bits_ppm) AS BIGINT) AS min_avg_bits_ppm,
       CAST(MAX(avg_bits_ppm) AS BIGINT) AS max_avg_bits_ppm
FROM bucketed GROUP BY lang, bucket"""
QUERIES["corpus_perplexity_buckets"] = q_corpus_perplexity_buckets
ORACLES["corpus_perplexity_buckets"] = PERPLEXITY_BUCKETS_ORACLE
