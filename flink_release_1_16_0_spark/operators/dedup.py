"""Deduplication operators for large-scale training-data pipelines.

Four families, all expressed as Catalyst-native plans (higher-order
array functions + one equi-join shuffle) so they scale to the 100 TB
corpus case:

- **exact**: hash-groupBy on normalized text — one shuffle on the hash,
  map-side partial agg.
- **MinHash + LSH**: shingle -> k MinHash signatures -> band -> ONE
  equi-join on (band, signature) to generate candidates -> exact Jaccard
  verify. The join key is a short hash string, so the shuffle moves
  O(docs * bands) small rows, never O(docs^2) pairs; skew is bounded by
  bucket collision counts. This is the standard scale-out near-dup
  pipeline (Broder's MinHash; banding per the LSH chapter of MMDS).
- **SimHash**: 32-bit charngram-weighted signature; near-dups = equal
  signature buckets or small Hamming distance within buckets.
- **embedding cosine**: near-dup via cosine >= threshold on the
  embeddings table (see operators.similarity for the k-NN variant).

Hashes are MD5-based (not Spark's murmur3) so every stage has an exact
DuckDB twin for the oracle suite; at production scale xxhash64 would be
a drop-in for ~3x hash throughput.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.operators._sqlq import q_ident as _q
from flink_release_1_16_0_spark.operators.text import (
    shingles,
    spark_sql_shingles,
    sql_shingles,
)


# ---------------------------------------------------------------------------
# Hashed-shingle fast path: one md5 per shingle, integer minhash mixing
# ---------------------------------------------------------------------------
#
# The salted-md5 signature below (signature_from_shingles) costs
# num_hashes md5 evaluations per shingle. The hashed path costs ONE md5
# per shingle (a 60-bit content hash both engines can compute
# identically) and then num_hashes integer multiply-mod "permutations"
# over that hash — the classic a*h+b mod p universal-hash family. Every
# step stays in the bigint domain (< 2^62, no overflow under ANSI mode)
# and has an exact DuckDB twin, so the whole pipeline remains
# oracle-gated end to end.

_MERSENNE = 2147483647  # 2^31 - 1


def _perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs for the integer minhash permutations.

    Deterministic closed form (no RNG) so the Spark plan and the
    generated oracle SQL embed identical literals.
    """
    out = []
    for i in range(num_hashes):
        a = (2654435761 * (i + 1) + 104729) % _MERSENNE
        b = (40503 * (i + 1) + 15485863) % _MERSENNE
        out.append((a or 1, b))
    return out


def hashed_shingles(sh: Column) -> Column:
    """array<bigint>: 60-bit md5-prefix content hash per shingle.

    Collisions are ~n^2/2^60 and, crucially, IDENTICAL across engines
    (both hash the same strings), so downstream Jaccard/minhash results
    stay bit-equal between Spark and the DuckDB oracle.
    """
    return F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
    )


def sql_hashed_shingles(sh_expr: str) -> str:
    """DuckDB twin of :func:`hashed_shingles` (applied to a list expr)."""
    return (
        f"list_transform({sh_expr},"
        " s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT))"
    )


def signature_from_hashes(hs: Column, num_hashes: int = 6) -> Column:
    """MinHash signature (array<bigint>) over hashed shingles.

    Permutation i maps h -> (a_i * (h % p) + b_i) % p with p = 2^31-1;
    the signature element is the min over the document's shingle hashes
    (NULL for shingle-less documents, filtered out at banding).
    """
    def perm(a: int, b: int):
        # single-parameter lambda via factory: a defaulted-arg closure
        # (`lambda h, a=a:`) would have arity 2 and receive (element,
        # index) from F.transform — the salted-signature trap below.
        la, lb = F.lit(a).cast("bigint"), F.lit(b).cast("bigint")
        return lambda h: (la * (h % _MERSENNE) + lb) % _MERSENNE

    return F.array(
        *[
            F.array_min(F.transform(hs, perm(a, b)))
            for a, b in _perm_constants(num_hashes)
        ]
    )


def sql_signature_from_hashes(hs_expr: str, num_hashes: int = 6) -> str:
    """DuckDB twin of :func:`signature_from_hashes`."""
    parts = ", ".join(
        f"list_min(list_transform(__hs, h -> ({a} * (h % {_MERSENNE}) + {b}) % {_MERSENNE}))"
        for a, b in _perm_constants(num_hashes)
    )
    return f"(SELECT [{parts}] FROM (SELECT {hs_expr} AS __hs))"


# ---------------------------------------------------------------------------
# Spark-SQL-text twins of the Column builders above. Same expression
# trees, same plans, same results — but ONE JVM parse per call site
# instead of one py4j round-trip per expression node. The Column forms
# of the minhash pipeline cost ~0.6-1.0 s of pure driver-side plan
# construction per dedup-query invocation (measured round-13
# optimization round, 32-core bench session); the text forms cost
# ~0.05 s. Keep both: Column forms for composability, text forms for
# the hot query paths.
# ---------------------------------------------------------------------------


def spark_sql_hashed_shingles(sh_expr: str) -> str:
    """Spark-SQL-text twin of :func:`hashed_shingles`."""
    return (
        f"transform({sh_expr},"
        " s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))"
    )


def spark_sql_signature_from_hashes(hs_expr: str, num_hashes: int = 6) -> str:
    """Spark-SQL-text twin of :func:`signature_from_hashes`."""
    parts = ", ".join(
        f"array_min(transform({hs_expr},"
        f" h -> (CAST({a} AS BIGINT) * (h % {_MERSENNE})"
        f" + CAST({b} AS BIGINT)) % {_MERSENNE}))"
        for a, b in _perm_constants(num_hashes)
    )
    return f"array({parts})"


def spark_sql_signature_from_shingles(sh_expr: str, num_hashes: int = 6) -> str:
    """Spark-SQL-text twin of :func:`signature_from_shingles`."""
    parts = ", ".join(
        f"array_min(transform({sh_expr}, s -> md5(concat('{i}|', s))))"
        for i in range(num_hashes)
    )
    return f"array({parts})"


def spark_sql_jaccard(a: str, b: str) -> str:
    """Spark-SQL-text twin of :func:`jaccard`."""
    da, db = f"array_distinct({a})", f"array_distinct({b})"
    inter = f"size(array_intersect({da}, {db}))"
    return (
        f"CAST({inter} AS DOUBLE)"
        f" / CAST(greatest(size({da}) + size({db}) - {inter}, 1) AS DOUBLE)"
    )


def spark_sql_jaccard_on_distinct(a: str, b: str) -> str:
    """:func:`spark_sql_jaccard` for inputs that are ALREADY distinct
    (``shingle_table(distinct=True)``): skips the per-pair
    array_distinct — identical value, since array_intersect and the
    inclusion-exclusion union size are distinct-invariant."""
    inter = f"size(array_intersect({a}, {b}))"
    return (
        f"CAST({inter} AS DOUBLE)"
        f" / CAST(greatest(size({a}) + size({b}) - {inter}, 1) AS DOUBLE)"
    )


def signature_from_shingles(sh: Column, num_hashes: int = 6) -> Column:
    """array<string> of `num_hashes` MinHash values over a shingle array.

    Permutation i is simulated by min(md5(i || '|' || shingle)) — string
    min over independent salted hashes, exactly reproducible in any
    engine with md5.

    The salted lambda MUST be single-parameter: `F.transform` inspects
    the callable's arity, and a two-parameter lambda (e.g. the
    `lambda s, i=i:` closure idiom) receives (element, index) — the
    index Column silently shadows the captured salt, stringifies into
    the literal, and the embedded lambda-variable name changes per plan
    construction, making the "signature" nondeterministic across runs.
    """

    def salted(i: int):
        prefix = F.lit(f"{i}|")
        return lambda s: F.md5(F.concat(prefix, s))

    return F.array(
        *[F.array_min(F.transform(sh, salted(i))) for i in range(num_hashes)]
    )


def shingle_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    persist: bool = False,
    hashed: bool = False,
    distinct: bool = False,
) -> DataFrame:
    """(id, sh) materialized behind an exchange — the shared first stage
    of the near-dup pipeline.

    Two deliberate exchanges shape the plan for scale:

    1. ``repartition`` of the RAW documents before any hashing — a
       small single-file corpus otherwise arrives as one input split and
       the whole tokenize+md5 stage runs in a single task; at 100 TB the
       same exchange is what balances skewed document sizes across the
       cluster. The exchanged payload is the raw text (smaller than its
       shingle expansion).
    2. ``repartition`` of the computed shingles — the explicit
       "signature table" materialization barrier: without it, Catalyst's
       projection collapse re-inlines the shingle expression into every
       consumer (no CSE inside higher-order-function lambdas),
       multiplying the tokenization work per reference.

    ``hashed=True`` stores 60-bit content hashes (array<bigint>) instead
    of shingle strings — ~5x smaller exchange payload and integer
    downstream compares; the DuckDB oracle mirrors the hash exactly
    (:func:`hashed_shingles`).

    `persist=True` additionally caches the stage so a plan that consumes
    it several times (banding + both verify sides) computes it once —
    the in-job equivalent of writing the signature table out, which is
    what the 100 TB pipeline would do between stages."""
    sh_sql = spark_sql_shingles(_q(text_col), k)
    if hashed:
        sh_sql = spark_sql_hashed_shingles(sh_sql)
    if distinct:
        # deduplicate shingles ONCE per document instead of once per
        # candidate pair downstream: MinHash is multiset-invariant
        # (duplicates never change a min), and the jaccard verifier
        # distincts its inputs anyway — at sf1 the per-pair
        # array_distinct ran 2 x 6.2M times vs 50k here (round-14).
        sh_sql = f"array_distinct({sh_sql})"
    # Explicit partition count: the hashing stage is CPU-bound, not
    # byte-bound, so AQE's byte-based coalescing would otherwise fold a
    # small-file corpus into ONE task and serialize the md5 work.
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = docs.repartition(par, F.col(id_col)).selectExpr(
        f"{_q(id_col)} AS __id", f"{sh_sql} AS __sh"
    )
    if persist:
        # the cache IS the materialization barrier (InMemoryRelation
        # stops projection collapse) — no second exchange needed
        return sh.persist()
    return sh.repartition(par, F.col("__id"))


def lsh_candidate_pairs(
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 6,
    bands: int = 6,
    k: int = 3,
    strategy: str = "join",
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via LSH banding.

    Two physical strategies, same result (both oracle-gated):

    - ``"join"``: explode bands -> self equi-join on (band_idx,
      band_key). At bench scale AQE broadcasts one side and the
      distinct collapses without an exchange — measured fastest on
      small corpora — but the join's second input is a full clone of
      the scan+shingle+signature pipeline (ReuseExchange does not
      canonicalize it away), so at 100 TB the dominant compute runs
      TWICE unless the signature table is materialized first.
    - ``"bucket"``: groupBy (band_idx, band_key) -> collect_list(id)
      -> generate pairs in-array. Computes the signature pipeline
      ONCE and shuffles only (band_key, id) rows — the 100 TB path.
      Bucket skew bounds the pair blow-up exactly like the join's
      collision counts; degenerate buckets (empty-text keys) should
      be capped upstream by a quality filter.

    ``shingle_df`` lets a caller share one `shingle_table` stage with
    a downstream verify join instead of building a private one.
    """
    if shingle_df is None:
        shingle_df = shingle_table(docs, id_col, text_col, k)
    rows_per_band = num_hashes // bands
    # hashed shingle tables (array<bigint>) take the integer minhash
    # path; string shingle tables keep the salted-md5 signature
    hashed = dict(shingle_df.dtypes)["__sh"] == "array<bigint>"
    sig_sql_fn = (
        spark_sql_signature_from_hashes if hashed else spark_sql_signature_from_shingles
    )
    sigs = shingle_df.selectExpr(
        "__id", f"{sig_sql_fn('__sh', num_hashes)} AS __sig"
    )
    bands_sql = ", ".join(
        "concat_ws('|', "
        + ", ".join(
            f"element_at(__sig, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )
        + ")"
        for b in range(bands)
    )
    banded = sigs.selectExpr(
        "__id", f"posexplode(array({bands_sql})) AS (band_idx, band_key)"
    ).where("band_key IS NOT NULL")
    if strategy == "bucket":
        # pair generation inside the bucket array: nested transform +
        # upper-triangle filter, exploded with inline (struct array ->
        # two columns in one Generate)
        pair_sql = (
            "filter(flatten(transform(ids, x -> transform(ids, y -> "
            "named_struct('id_a', x, 'id_b', y)))), p -> p.id_a < p.id_b)"
        )
        return (
            banded.groupBy("band_idx", "band_key")
            .agg(F.collect_list("__id").alias("ids"))
            .where("size(ids) > 1")
            .selectExpr(f"inline({pair_sql})")
            .distinct()
        )
    if strategy != "join":
        raise ValueError(f"unknown strategy {strategy!r} (expected join|bucket)")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard over two shingle arrays (as sets) — int ratio."""
    da, db = F.array_distinct(sh_a), F.array_distinct(sh_b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")


def sql_jaccard(a: str, b: str) -> str:
    return (
        f"(SELECT CAST(len(list_intersect(__da, __db)) AS DOUBLE)"
        f" / CAST(greatest(len(__da) + len(__db) - len(list_intersect(__da, __db)), 1) AS DOUBLE)"
        f" FROM (SELECT list_distinct({a}) AS __da, list_distinct({b}) AS __db))"
    )


def simhash32(text: Column, k: int = 3) -> Column:
    """32-bit SimHash over k-token shingles.

    Each shingle votes +1/-1 per bit of md5's first 8 hex chars; the
    signature sets bit b when the vote sum is positive. BIGINT result.
    """
    sh = shingles(text, k)
    hashes = F.transform(sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"))
    # shiftright/shiftleft need literal shift amounts, so bit extraction
    # uses exact integer arithmetic: (h div 2^b) % 2, and packing is
    # bit * 2^b (all < 2^53, exact in the bigint domain).
    pow2 = [F.lit(1 << b).cast("bigint") for b in range(32)]
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda b: F.when(
            F.aggregate(
                hashes,
                F.lit(0).cast("bigint"),
                lambda acc, h: acc
                + F.when(
                    (h / F.element_at(F.array(*pow2), (b + 1).cast("int"))).cast("bigint") % 2 == 1,
                    1,
                ).otherwise(-1),
            )
            > 0,
            F.lit(1).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(31)),
            lambda bit, pos: bit * F.element_at(F.array(*pow2), (pos + 1).cast("int")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def sql_simhash32(expr: str, k: int = 3) -> str:
    sh = sql_shingles(expr, k)
    # Outer CAST matters: DuckDB list_sum returns HUGEINT, which
    # fetchdf() materializes as float64 — the driver's value-hash then
    # differs from Spark's bigint even though values are identical.
    return f"""(
      SELECT CAST(list_sum(list_transform(range(32), b ->
        CASE WHEN list_sum(list_transform(__hs, h ->
               CASE WHEN (h // (1 << b)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
             THEN (1 << b)::BIGINT ELSE 0 END)) AS BIGINT)
      FROM (SELECT list_transform({sh},
                   s -> CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT)) AS __hs)
    )"""


# --------------------------------------------------------------------------
# Near-dup clustering: connected components over the candidate-pair
# graph. The piece a production dedup pipeline runs AFTER pair
# generation — transitive closure picks one representative per cluster
# (a<->b and b<->c must collapse to ONE keeper even though (a,c) was
# never a candidate pair). No reference counterpart (Flink has no graph
# operator in the Table runtime); the Spark-native shape is iterative
# min-label propagation, the Pregel pattern, driven from the driver in
# O(component diameter) rounds — near-dup clusters are short chains, so
# this converges in 2-4 rounds; each round is two shuffles (edges by
# node, labels by node) regardless of corpus size.
# --------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    minimum node id reachable through the undirected pair graph.

    Label propagation with a convergence check: each round joins the
    current labels across the symmetrized edge list and keeps the
    per-node minimum. Each round is cut from its lineage with an eager
    ``localCheckpoint`` (iterative-plan discipline — a persist alone
    keeps the full logical plan, and analysis cost compounds per round
    even when the physical data is cached).
    """
    sym = edges.select(
        F.col(id_a).cast("bigint").alias("src"), F.col(id_b).cast("bigint").alias("dst")
    ).union(
        edges.select(
            F.col(id_b).cast("bigint").alias("src"), F.col(id_a).cast("bigint").alias("dst")
        )
    )
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def sql_connected_components(edges_cte: str, id_a: str = "id_a", id_b: str = "id_b") -> str:
    """DuckDB twin: transitive closure via a recursive CTE, then the
    minimum reachable id per node — identical (node, component) pairs."""
    return f"""
WITH RECURSIVE sym AS (
  SELECT {id_a} AS src, {id_b} AS dst FROM ({edges_cte})
  UNION
  SELECT {id_b} AS src, {id_a} AS dst FROM ({edges_cte})
), reach AS (
  SELECT src AS node, src AS root FROM sym
  UNION
  SELECT s.dst AS node, r.root
  FROM reach r JOIN sym s ON s.src = r.node
)
SELECT node, MIN(root) AS component FROM reach GROUP BY node
"""
