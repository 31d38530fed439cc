"""Text-analysis operators for large-scale training-data pipelines.

These are first-class engine operators (not just demo queries): language
ID, quality scoring, token counting, and document fingerprinting over a
`documents(text)` corpus. They deliberately compile to pure JVM-side
Catalyst expressions (split/filter/transform/aggregate lambdas) — no
Python UDFs — so at 100 TB they run inside whole-stage codegen with zero
serialization overhead, scale linearly with input splits, and never
shuffle (all are per-row projections).

Portability: every function here has an exact DuckDB-SQL twin used by
the oracle suite (md5-based fingerprints rather than engine-private
hashes; integer-ratio doubles rather than order-dependent float sums).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization: lowercase, split on non-alphanumeric runs, drop empties.
# NOTE: this pattern is interpolated into SINGLE-QUOTED string literals
# in both the Spark-SQL and DuckDB text twins (spark_sql_tokens /
# sql_tokens); Spark SQL string literals process backslash escapes, so
# a pattern containing a backslash or quote would silently diverge from
# the Column twin (which passes it verbatim). The check pins the
# escape-free property the twins rely on, also under ``python -O``.
_TOKEN_SPLIT = "[^a-z0-9]+"
if set(_TOKEN_SPLIT) & set("\\'\""):
    raise ValueError("_TOKEN_SPLIT must stay escape-free for SQL-literal embedding")

# A small English stopword set (public, common to every IR textbook).
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "from",
)


def tokens(text: Column) -> Column:
    """Lowercased alphanumeric tokens as array<string> (JVM-side)."""
    return F.filter(
        F.split(F.lower(text), _TOKEN_SPLIT), lambda t: t != F.lit("")
    )


def sql_tokens(expr: str) -> str:
    """DuckDB twin of :func:`tokens`."""
    return (
        f"list_filter(string_split_regex(lower({expr}), '{_TOKEN_SPLIT}'),"
        " t -> t <> '')"
    )


def token_count(text: Column) -> Column:
    """Whitespace/punct-delimited token count (BIGINT)."""
    return F.size(tokens(text)).cast("bigint")


def sql_token_count(expr: str) -> str:
    return f"CAST(len({sql_tokens(expr)}) AS BIGINT)"


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Fraction of tokens that are stopwords — a fluency signal.

    Exact ratio of two ints -> bit-identical across engines.
    """
    toks = tokens(text)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return (hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double"))


def sql_stopword_ratio(expr: str, stopwords: tuple[str, ...] = STOPWORDS) -> str:
    sw = "[" + ", ".join(f"'{s}'" for s in stopwords) + "]"
    t = sql_tokens(expr)
    return (
        f"CAST(len(list_filter({t}, t -> list_contains({sw}, t))) AS DOUBLE)"
        f" / CAST(greatest(len({t}), 1) AS DOUBLE)"
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not [a-zA-Z0-9 ]."""
    n_punct = F.length(F.regexp_replace(text, "[a-zA-Z0-9 ]", ""))
    return n_punct.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def sql_punct_ratio(expr: str) -> str:
    return (
        f"CAST(length(regexp_replace({expr}, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)"
        f" / CAST(greatest(length({expr}), 1) AS DOUBLE)"
    )


def mean_token_len(text: Column) -> Column:
    """Average token length — exact ratio of ints."""
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def sql_mean_token_len(expr: str) -> str:
    t = sql_tokens(expr)
    return (
        f"CAST(list_sum(list_transform({t}, t -> length(t))) AS DOUBLE)"
        f" / CAST(greatest(len({t}), 1) AS DOUBLE)"
    )


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: fluency (stopword presence),
    clean charset (low punctuation), and plausible word shape. The exact
    weights are engine-portable rational arithmetic.
    """
    sw = stopword_ratio(text)
    pr = punct_ratio(text)
    ml = mean_token_len(text)
    # target stopword ratio ~0.4, punct ratio ~0, mean token len in [3, 10]
    sw_term = F.lit(1.0) - F.least(F.abs(sw - F.lit(0.4)) * F.lit(2.5), F.lit(1.0))
    pr_term = F.lit(1.0) - F.least(pr * F.lit(5.0), F.lit(1.0))
    ml_term = F.when((ml >= 3.0) & (ml <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return (sw_term * F.lit(0.4) + pr_term * F.lit(0.4) + ml_term * F.lit(0.2))


def sql_quality_score(expr: str) -> str:
    sw = sql_stopword_ratio(expr)
    pr = sql_punct_ratio(expr)
    ml = sql_mean_token_len(expr)
    return (
        f"((1.0 - least(abs(({sw}) - 0.4) * 2.5, 1.0)) * 0.4"
        f" + (1.0 - least(({pr}) * 5.0, 1.0)) * 0.4"
        f" + (CASE WHEN ({ml}) >= 3.0 AND ({ml}) <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2)"
    )


def lang_id(text: Column) -> Column:
    """N-gram/stopword-heuristic language ID: 'en' when enough English
    stopword mass is present, else 'unknown'. (The container has no
    langid model; the heuristic is the Spark-side plumbing that a real
    fastText-style scorer would slot into as a pandas UDF.)
    """
    return F.when(stopword_ratio(text) >= 0.08, F.lit("en")).otherwise(F.lit("unknown"))


def sql_lang_id(expr: str) -> str:
    return f"CASE WHEN ({sql_stopword_ratio(expr)}) >= 0.08 THEN 'en' ELSE 'unknown' END"


def shingles(text: Column, k: int = 3) -> Column:
    """k-token shingles ('w1 w2 w3' strings); empty array when < k tokens.

    Built with zip_with over k shifted views of the token array rather
    than per-index element_at: Catalyst has no common-subexpression
    elimination inside higher-order-function lambdas, so an element_at
    formulation re-tokenizes the document for every shingle element
    (O(shingles x k) tokenizations/row — measured 16s for 500 docs);
    zip_with evaluates each input array once (O(k)/row, ~100x less).
    """
    toks = tokens(text)
    n = F.size(toks)
    acc = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
        acc = F.zip_with(
            acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n >= k, F.slice(acc, 1, n - (k - 1))).otherwise(
        F.array().cast("array<string>")
    )


def spark_sql_tokens(expr: str) -> str:
    """Spark-SQL-text twin of :func:`tokens` (same expression tree,
    built in one parse instead of one py4j call per node)."""
    return f"filter(split(lower({expr}), '{_TOKEN_SPLIT}'), t -> t != '')"


def spark_sql_shingles(expr: str, k: int = 3) -> str:
    """Spark-SQL-text twin of :func:`shingles`.

    Construction-cost optimization only: the Column form costs dozens
    of py4j round-trips per call site (measured ~0.6 s of driver time
    per dedup-query build at 32-core bench settings); this text form is
    one JVM parse. The expression tree — zip_with over k shifted views,
    no per-index element_at — is the same, so plans and results are
    byte-identical.
    """
    toks = spark_sql_tokens(expr)
    n = f"size({toks})"
    acc = toks
    for j in range(1, k):
        shifted = f"slice({toks}, {j + 1}, greatest({n} - {j}, 0))"
        acc = f"zip_with({acc}, {shifted}, (a, b) -> concat(a, ' ', b))"
    return (
        f"CASE WHEN {n} >= {k} THEN slice({acc}, 1, {n} - {k - 1}) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def sql_shingles(expr: str, k: int = 3) -> str:
    t = sql_tokens(expr)
    parts = " || ' ' || ".join(f"__t[i + {j + 1}]" for j in range(k))
    return (
        f"(CASE WHEN len({t}) >= {k} THEN "
        f"(SELECT list_transform(range(len(__t) - {k - 1}), i -> {parts})"
        f" FROM (SELECT {t} AS __t)) ELSE [] END)"
    )


def fingerprint(text: Column, k: int = 3) -> Column:
    """Deterministic document fingerprint: the minimum MD5 over k-token
    shingles (a 1-permutation MinHash — the rolling-hash fingerprint of
    the reference pipeline, made engine-portable via MD5). NULL for
    documents shorter than k tokens.
    """
    return F.array_min(F.transform(shingles(text, k), F.md5))


def sql_fingerprint(expr: str, k: int = 3) -> str:
    return f"list_min(list_transform({sql_shingles(expr, k)}, s -> md5(s)))"


# --------------------------------------------------------------------------
# Corpus-level scoring (tf-idf, unigram language model). Unlike the
# per-row projections above, these shuffle: once on (doc, token) for
# term frequencies and once on token for corpus statistics. Both aggs
# are partial-combinable (map-side combine bounds hot-token skew), the
# vocabulary relation is orders of magnitude smaller than the corpus
# (AQE broadcasts it when it fits), and the corpus is never collected
# to the driver — the shapes survive a 100 TB corpus.
# --------------------------------------------------------------------------


def token_table(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Explode a corpus into one row per token occurrence."""
    return docs.select(id_col, F.explode(tokens(F.col(text_col))).alias("token"))


def tf_idf_top_terms(docs, id_col: str = "doc_id", text_col: str = "text", k: int = 3):
    """Top-k characteristic terms per document by smoothed tf-idf.

    idf = ln((N + 1) / (df + 1)) + 1 (scikit-style smoothing; public
    formula). Scores are rounded to the 9-decimal grid so the value —
    and the (score DESC, token ASC) ranking — is identical across
    engines and partitionings. The doc-count scalar rides a broadcast
    1-row relation, not a driver collect.
    """
    from pyspark.sql import Window

    tok = token_table(docs, id_col, text_col)
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfx = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfx, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("__n") + 1).cast("double") / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                9,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "token", "tf", "tfidf", "rk")
    )


def sql_tf_idf_top_terms(k: int = 3) -> str:
    """DuckDB twin of :func:`tf_idf_top_terms` over the documents view."""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS __n FROM documents),
scored AS (
  SELECT doc_id, token, tf,
         ROUND(tf * (LN((__n + 1.0) / (df + 1.0)) + 1.0), 9) AS tfidf
  FROM tf JOIN dfx USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, tfidf, rk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
  FROM scored
) WHERE rk <= {k}
"""


def unigram_logprob(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document average negative log-probability under the corpus's
    own unigram language model — the classic cheap "perplexity-style"
    quality signal for training-data curation (high score = tokens rare
    in the corpus = atypical text). Per-token -ln p values are rounded
    to the 9-decimal grid and summed as DECIMAL(38,9) so the mean is
    exact and order-independent; documents with zero tokens drop out.
    """
    tok = token_table(docs, id_col, text_col)
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = tok.select(F.count(F.lit(1)).alias("__tt"))
    lp = (
        vocab.crossJoin(F.broadcast(tot))
        .withColumn(
            "lp", F.round(-F.log(F.col("cnt").cast("double") / F.col("__tt")), 9)
        )
        .select("token", "lp")
    )
    return (
        tok.join(lp, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # no final round: the quotient of an exact decimal sum by an
            # int is not on any decimal grid, so rounding it re-opens the
            # half-tie hazard; bare IEEE division of identical inputs is
            # bit-identical across engines.
            (
                F.sum(F.col("lp").cast("DECIMAL(38,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_neg_logprob"),
        )
    )


def sql_unigram_logprob() -> str:
    """DuckDB twin of :func:`unigram_logprob` over the documents view."""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents
),
vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT COUNT(*) AS __tt FROM tok),
lp AS (
  SELECT token, ROUND(-LN(CAST(cnt AS DOUBLE) / __tt), 9) AS lp
  FROM vocab CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(CAST(lp AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*)
           AS avg_neg_logprob
FROM tok JOIN lp USING (token)
GROUP BY doc_id
"""


def shingle_hashes(text: Column, k: int = 3) -> Column:
    """Integer hash per k-token shingle (md5 prefix as bigint)."""
    return F.transform(
        shingles(text, k),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
    )


def winnow_from_hashes(hashes: Column, w: int = 4) -> Column:
    """Window-min selection over a MATERIALIZED hash-array column.

    Catalyst has no common-subexpression elimination inside
    higher-order-function lambdas, so referencing the hash expression
    directly re-hashes the document once per window (O(shingles^2) —
    measured 10s for 500 docs). Callers must project the hash array
    first and put an exchange barrier between the two projections (the
    shingle_table idiom) so this sees a bound column: then it is
    O(shingles x w) inside codegen.
    """
    n = F.size(hashes)
    mins = F.transform(
        F.sequence(F.lit(0), F.greatest(n - w, F.lit(0))),
        lambda i: F.array_min(F.slice(hashes, i + 1, w)),
    )
    return F.when(n > 0, F.array_sort(F.array_distinct(mins))).otherwise(
        F.array().cast("array<bigint>")
    )


def winnow_fingerprints(text: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm; public): hash every k-token shingle, slide a
    window of w hashes, keep each window's minimum — guarantees any
    shared run of >= w+k-1 tokens between two documents shares a
    fingerprint, with density 2/(w+1). Returns the distinct selected
    hashes (sorted) as array<bigint>; empty for docs under k tokens.

    Single-expression convenience form; for corpus-scale use, project
    :func:`shingle_hashes` behind an exchange barrier and apply
    :func:`winnow_from_hashes` (see its docstring for why).
    """
    return winnow_from_hashes(shingle_hashes(text, k), w)


def sql_winnow_fingerprints(expr: str, k: int = 3, w: int = 4) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`."""
    sh = sql_shingles(expr, k)
    return (
        f"(SELECT CASE WHEN len(__h) > 0 THEN "
        f"list_sort(list_distinct(list_transform("
        f"range(0, greatest(len(__h) - {w}, 0) + 1), "
        f"i -> list_min(__h[i + 1 : i + {w}])))) "
        f"ELSE [] END FROM (SELECT list_transform({sh}, "
        f"s -> CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT)) AS __h))"
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training: iterative merge learning over corpus statistics
# ---------------------------------------------------------------------------


def bpe_train_merges(docs, text_col: str = "text", rounds: int = 3):
    """Learn the first ``rounds`` BPE merges from a corpus (the
    tokenizer-training primitive of an LLM data pipeline).

    Classic BPE (Sennrich et al. 2016): start from characters, then
    repeatedly merge the globally most frequent adjacent symbol pair.
    Distributed shape: ONE corpus scan builds the word-count vocab
    (persisted — rounds never rescan the corpus); each round is a
    vocab-sized pair explode + groupBy (partial-agg shuffle on the
    pair), a 1-row top-pair aggregate broadcast back (no collect), and
    a pure-projection merge apply. At 100 TB the corpus scan dominates
    and happens once; per-round cost is O(vocab), which is corpus-size
    independent.

    Symbols are rendered as ``<sym>`` runs inside a delimited string so
    the merge is a literal ``replace`` of ``<l><r>`` with ``<lr>`` —
    leftmost-first non-overlapping, exactly BPE's merge-application
    order — and cross-symbol false matches are impossible (a match must
    align on ``<`` which only opens a symbol). The word alphabet is
    restricted to [a-z]+ so the delimiters can never collide.

    Ties on pair count break lexicographically, making the learned
    merges deterministic and engine-portable. Returns one row per merge:
    (merge_rank, left_sym, right_sym, pair_count).
    """
    words = docs.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
        ).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("repr", F.regexp_replace("w", "(.)", "<$1>"))
        .persist()
    )
    tops = []
    for rnd in range(1, rounds + 1):
        syms = vocab.select(
            "cnt",
            F.split(F.expr("substring(repr, 2, length(repr) - 2)"), "><").alias("s"),
        )
        pairs = syms.filter(F.expr("size(s) >= 2")).select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(s) - 2), "
                    "i -> named_struct('l', s[i], 'r', s[i + 1]))"
                )
            ).alias("p"),
        )
        pc = pairs.groupBy(
            F.col("p.l").alias("l"), F.col("p.r").alias("r")
        ).agg(F.sum("cnt").alias("pc"))
        top = pc.orderBy(F.desc("pc"), "l", "r").limit(1)
        tops.append(
            top.select(
                F.lit(rnd).alias("merge_rank"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("pc").cast("bigint").alias("pair_count"),
            )
        )
        vocab = (
            vocab.crossJoin(F.broadcast(top))
            .withColumn(
                "repr",
                F.replace(
                    F.col("repr"),
                    F.concat(F.lit("<"), "l", F.lit("><"), "r", F.lit(">")),
                    F.concat(F.lit("<"), "l", "r", F.lit(">")),
                ),
            )
            .drop("l", "r", "pc")
        )
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out


def sql_bpe_train_merges(rounds: int = 3) -> str:
    """DuckDB twin of :func:`bpe_train_merges` (rounds unrolled)."""
    parts = [
        r"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents
), vocab0 AS (
  SELECT w, COUNT(*) AS cnt, regexp_replace(w, '(.)', '<\1>', 'g') AS repr
  FROM words GROUP BY w
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", syms{i} AS (
  SELECT cnt, string_split(substring(repr, 2, length(repr) - 2), '><') AS s
  FROM vocab{i - 1}
), pairs{i} AS (
  SELECT s[i] AS l, s[i + 1] AS r, SUM(cnt) AS pc
  FROM syms{i}, unnest(range(1, len(s))) AS t(i)
  GROUP BY 1, 2
), top{i} AS (
  SELECT l, r, pc FROM pairs{i} ORDER BY pc DESC, l, r LIMIT 1
), vocab{i} AS (
  SELECT v.w, v.cnt,
         replace(v.repr, '<' || t.l || '><' || t.r || '>',
                 '<' || t.l || t.r || '>') AS repr
  FROM vocab{i - 1} v CROSS JOIN top{i} t
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"CAST(pc AS BIGINT) AS pair_count FROM top{i}"
        for i in range(1, rounds + 1)
    )
    return "".join(parts) + "\n" + sel
