"""Product quantization (PQ, Jégou et al., TPAMI 2011) for the
vector-search path — the codebook sibling of the SQ8 scalar quantizer
(`quantization.py`) and the last piece of the reference's vector-index
tuning surface (its Qdrant twin exposes scalar AND product quantization;
`no-ocr-api/tests/lance_vs_qdrant.py:96-102` tunes the scalar knob).

PQ in one line: split each DIM-dim vector into M subspaces, k-means each
subspace into K centroids, store each vector as M tiny centroid ids
(M bytes at K=256) — then search never touches the original floats: a
query builds an M x K table of partial dot products once, and every
stored code scores as M table lookups (ADC, asymmetric distance
computation).

Spark-first, exact-oracle design (same discipline as `ann_ivf_kmeans`):

  * All arithmetic that crosses an aggregation boundary is EXACT INT64
    on the repo's deterministic 1e7-scaled quantization
    (`retrieval._quant`), so sums are order-independent and the oracle
    is bit-equal: subspace assignment ranks round(cosine, 6) (cosine is
    scale-invariant, so int inputs are fine); centroid refit uses
    integer mean with half-away-from-zero rounding computed ONLY on
    non-negative operands, where Spark `div` and DuckDB `//` agree.
  * TRAIN (one Lloyd round, the real PQ codebook build): init each
    subspace's K centroids from vec_ids 1..K, assign every (vector,
    subspace) slice by max-cosine, refit as the rounded integer mean.
    Each assignment pass is M slice rows per vector x a BROADCAST join
    of the M*K-row codebook (a driver-local table) + ONE groupBy(vec_id)
    argmax; the refit is one groupBy whose cardinality is M*K —
    constant in corpus size, exactly like the IVF build. The codebook
    rides as DATA, never as inlined literals, so the plan is the same
    size at K=16 and K=256.
  * ENCODE: the final assignment emits each vector's M codes; the
    packed code is the hex concat in subspace order — M bytes per vector vs
    8*DIM bytes of float64 (64x at K<=256; the graded shape packs
    M=8 codes).
  * SEARCH (ADC): the M x K distance table holds EXACT int64 partial
    dots pdot(m,k) = <q_m, c_{m,k}> and centroid norms ||c_{m,k}||^2;
    a vector's score needs only its M codes: sum_m pdot(m, code_m) /
    (|q| * sqrt(sum_m |c_{m,code_m}|^2)) — the reconstruction-norm
    cosine. The int sums in the per-vector agg are order-independent,
    so the double division + round(6) is bit-identical across engines,
    partitionings, and cluster sizes.

At 100 TB: the codes table is the ONLY corpus-sized input to a PQ scan
(M bytes/row); the distance table is M*K rows built from the broadcast
codebook and the query alone — so ADC top-k is one map-only scan over
codes + TakeOrderedAndProject, no shuffle, no float reads. Training
stays constant-state: the codebook (M*K*SUB ints) broadcasts where even
SQ8's dim stats would; empty clusters simply drop out of the codebook
(both engines identically).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.operators.retrieval import DIM, _cosine, _quant
from no_ocr_spark.plans.partitioning import fan_out_for_cpu
from no_ocr_spark.sources.tables import load_table

M = 8                  # subspaces
SUB = DIM // M         # dims per subspace
K = 16                 # centroids per subspace (production: 256)
TOPK = 10


def _idot(dialect: str, a: str, b: str) -> str:
    """Exact int64 dot product (inputs are 1e7-quantized ints; SUB-dim
    partials stay < 1e15, far under int64)."""
    if dialect == "spark":
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                f"cast(0 as bigint), (acc, x) -> acc + x)")
    return (f"list_reduce(list_prepend(0::BIGINT, "
            f"list_transform(generate_series(1, len({a})), "
            f"i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)")


def _imean(s: str, n: str) -> str:
    """Half-away-from-zero integer mean, negative-safe: both branches
    divide non-negative ints, where Spark `div` == DuckDB `//` (the SQL
    is engine-shared — `div` is spelled by the caller)."""
    return (f"CASE WHEN {s} >= 0 THEN (2 * {s} + {n}) {{div}} (2 * {n}) "
            f"ELSE -((-2 * {s} + {n}) {{div}} (2 * {n})) END")


def _csim(dialect: str, a: str, b: str) -> str:
    """Tie-safe assignment key: null cosine (zero-norm slice) sinks."""
    return f"coalesce(round({_cosine(dialect, a, b)}, 6), -2.0)"


def _arr_lit(vals: list[int]) -> str:
    return "array({})".format(", ".join(f"{v}L" for v in vals))


def _codebook(spark: SparkSession,
              cents: dict[int, list[tuple[int, list[int]]]]) -> DataFrame:
    """The M*K codebook as DATA: one (m, cid, c0..c{SUB-1}, cn) row per
    centroid, cn = its exact int64 squared norm. Built from a pandas
    frame, so it is a LocalRelation with a known size (a list goes
    through a parallelized RDD instead)."""
    names = ["m", "cid", *[f"c{i}" for i in range(SUB)], "cn"]
    rows = [(m, cid, *cv, _idot_py(cv, cv))
            for m in sorted(cents) for cid, cv in cents[m]]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=names, dtype="int64"))


def _slices(emb: DataFrame) -> DataFrame:
    """(vec_id, qv) -> M slice rows (vec_id, m, s0..s{SUB-1}, n), n the
    exact int64 squared slice norm, staged once per slice row."""
    s = [f"s{i}" for i in range(SUB)]
    return (
        emb.select("vec_id", "qv",
                   F.explode(F.sequence(F.lit(1), F.lit(M))).alias("m"))
        .select("vec_id", "m", *[
            F.expr(f"element_at(qv, (m - 1) * {SUB} + {i + 1})").alias(c)
            for i, c in enumerate(s)])
        .select("vec_id", "m", *s,
                F.expr(" + ".join(f"{c} * {c}" for c in s)).alias("n"))
    )


def _assign(slices: DataFrame, book: DataFrame, carry: bool) -> DataFrame:
    """One assignment pass: every slice row scores every centroid of its
    subspace (broadcast codebook join), then ONE groupBy(vec_id) picks
    per subspace max(struct(csim, -cid)) — highest csim, ties to the
    smallest cid, EXACTLY the oracle's row_number() order. csim is the
    verbatim round(cosine, 6) double over an unrolled int64 dot (integer
    addition is associative, so it is bit-equal to the oracle's fold).
    Returns (vec_id, _p1.._pM), _pm.ncid = -code; `carry` also keeps
    the slice (s0..) in the winner struct for the refit."""
    dot = " + ".join(f"s{i} * c{i}" for i in range(SUB))
    csim = (f"coalesce(round(({dot}) / (sqrt(cast(n as double)) "
            f"* sqrt(cast(cn as double))), 6), -2.0)")
    kept = [f"s{i}" for i in range(SUB)] if carry else []
    return (
        slices.join(F.broadcast(book), "m")
        .select("vec_id", "m", F.struct(
            F.expr(csim).alias("csim"), (-F.col("cid")).alias("ncid"),
            *kept).alias("p"))
        .groupBy("vec_id")
        .agg(*[F.max(F.when(F.col("m") == m, F.col("p"))).alias(f"_p{m}")
               for m in range(1, M + 1)])
    )


def _imean_py(s: int, n: int) -> int:
    """Python replay of _imean: both branches divide non-negative ints,
    where Python // (floor) == Spark div == DuckDB // (truncation and
    floor agree on non-negative operands)."""
    return (2 * s + n) // (2 * n) if s >= 0 else -((-2 * s + n) // (2 * n))


def _idot_py(a: list[int], b: list[int]) -> int:
    """Exact int64 dot in Python (arbitrary-precision == in-range int64)."""
    return sum(x * y for x, y in zip(a, b))


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook train (1 Lloyd round) -> M-byte codes -> ADC top-10
    for query = embedding(vec_id=0). Returns (vec_id, pq_code, score).

    Plan shape: the quantized embeddings are localCheckpoint'd once
    and exploded into M slice rows (vec_id, m, s0.., n). Each assignment
    pass joins those rows to the broadcast M*K codebook table, scores
    csim with the oracle's exact round(cosine, 6) over codebook COLUMNS,
    and picks per subspace max(struct(csim, -cid)) in one
    groupBy(vec_id) — one hash exchange carrying one partial row per
    vector. Inlining the collected codebook as M*K literal structs
    instead grows the plan with K and overflows the JVM's 64 KB method
    limit already at K=16, losing whole-stage codegen. The
    refit, the distance table and the query norm are exact int64 math
    on the collected codebook, replayed in Python where
    arbitrary-precision ints equal in-range int64 ops; the ADC score is
    M array lookups per vector. Output is bit-identical to the oracle."""
    emb = (
        fan_out_for_cpu(
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding"),
            spark,
        )
        .select("vec_id", F.expr(_quant("spark", "embedding")).alias("qv"))
        .localCheckpoint()
    )
    base = {
        int(r["vec_id"]): [int(v) for v in r["qv"]]
        for r in emb.filter(F.col("vec_id").between(0, K)).collect()
    }
    has_query = 0 in base
    qv0 = base.get(0, [0] * (M * SUB))
    # cents0[m] = subspace slices of vec_ids 1..K (exact int slicing)
    cents0 = {
        m: [(cid, base[cid][(m - 1) * SUB:m * SUB])
            for cid in sorted(base) if 1 <= cid <= K]
        for m in range(1, M + 1)
    }
    sl = _slices(emb)
    a0 = _assign(sl, _codebook(spark, cents0), carry=True)
    # one Lloyd refit: per (m, cid) integer sums of member slices +
    # count, as SUB codegen sum() aggregates after a single inline of
    # each vector's M winner structs (M*K-group shuffle)
    refit_rows = (
        a0.select(F.inline(F.array(*[
            F.struct(F.lit(m).alias("m"),
                     (-F.col(f"_p{m}.ncid")).alias("cid"),
                     *[F.col(f"_p{m}.s{i}") for i in range(SUB)])
            for m in range(1, M + 1)])))
        .groupBy("m", "cid")
        .agg(F.count("*").alias("n"),
             *[F.sum(f"s{i}").alias(f"s{i}") for i in range(SUB)])
        .collect()
    )
    cents1: dict[int, list[tuple[int, list[int]]]] = {
        m: [] for m in range(1, M + 1)
    }
    for r in refit_rows:
        cv = [_imean_py(int(r[f"s{i}"]), int(r["n"])) for i in range(SUB)]
        cents1[int(r["m"])].append((int(r["cid"]), cv))
    for m in cents1:
        cents1[m].sort()
    # ADC distance table + query norm: exact ints from the collected
    # codebook (vocab-sized driver math, the BPE-loop size class)
    qsub = {m: qv0[(m - 1) * SUB:m * SUB] for m in range(1, M + 1)}
    pdot = {m: {cid: _idot_py(qsub[m], cv) for cid, cv in cents1[m]}
            for m in cents1}
    cnorm2 = {m: {cid: _idot_py(cv, cv) for cid, cv in cents1[m]}
              for m in cents1}
    qn2 = _idot_py(qv0, qv0)

    def lut(table: dict[int, int]) -> str:
        """element_at array lookup by cid (1..K); holes (dropped empty
        clusters) are never referenced — assignment only emits
        surviving cids."""
        mx = max(table) if table else 1
        vals = [table.get(cid, 0) for cid in range(1, mx + 1)]
        return _arr_lit(vals)

    enc1 = _assign(sl.filter(F.col("vec_id") != 0),
                   _codebook(spark, cents1), carry=False).select(
        "vec_id", *[(-F.col(f"_p{m}.ncid")).alias(f"_c{m}")
                    for m in range(1, M + 1)])
    sp = " + ".join(
        f"element_at({lut(pdot[m])}, cast(_c{m} as int))"
        for m in range(1, M + 1))
    sc2 = " + ".join(
        f"element_at({lut(cnorm2[m])}, cast(_c{m} as int))"
        for m in range(1, M + 1))
    code_hex = ", ".join(
        f"lpad(hex(_c{m}), 2, '0')" for m in range(1, M + 1))
    scored = (
        enc1.select(
            "vec_id",
            F.expr(f"concat({code_hex})").alias("pq_code"),
            F.expr(f"({sp})").alias("sp"),
            F.expr(f"({sc2})").alias("sc2"),
        )
        .select(
            "vec_id", "pq_code",
            F.expr(
                "CASE WHEN sc2 = 0 THEN -2.0 ELSE "
                f"round(cast(sp as double) / (sqrt(cast({qn2}L as double)) "
                "* sqrt(cast(sc2 as double))), 6) END"
            ).alias("score"),
        )
    )
    if not has_query:
        # no vec_id=0: the old qnorm crossJoin made the result empty
        scored = scored.filter(F.lit(False))
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(TOPK)


def _pq_oracle() -> str:
    """DuckDB replay of q_ann_pq_topk: identical int arithmetic, so the
    codes AND scores are bit-equal (not just rank-equal)."""
    q = _quant("duckdb", "embedding")
    asn0 = _csim("duckdb", "s.sv", "c.cv")
    imean = _imean("s", "n").format(div="//")
    idot_qc = _idot("duckdb", "q.qsv", "c.cv")
    idot_cc = _idot("duckdb", "c.cv", "c.cv")
    idot_qq = _idot("duckdb", "qv", "qv")
    return f"""
        WITH qe AS (SELECT vec_id, {q} AS qv FROM embeddings),
        sub AS (
            SELECT vec_id, m,
                   list_slice(qv, (m - 1) * {SUB} + 1, m * {SUB}) AS sv
            FROM qe, generate_series(1, {M}) AS t(m)),
        c0 AS (SELECT m, vec_id AS cid, sv AS cv FROM sub
               WHERE vec_id BETWEEN 1 AND {K}),
        a1 AS (
            SELECT vec_id, m, sv, cid FROM (
                SELECT s.vec_id, s.m, s.sv, c.cid,
                       row_number() OVER (PARTITION BY s.vec_id, s.m
                           ORDER BY {asn0} DESC, c.cid ASC) AS rn
                FROM sub s JOIN c0 c ON s.m = c.m)
            WHERE rn = 1),
        sums AS (
            SELECT m, cid, i AS pos, sum(sv[i])::BIGINT AS s,
                   count(*)::BIGINT AS n
            FROM a1, generate_series(1, {SUB}) AS t(i)
            GROUP BY m, cid, i),
        c1 AS (
            SELECT m, cid, list({imean} ORDER BY pos) AS cv
            FROM sums GROUP BY m, cid),
        codes AS (
            SELECT vec_id, m, cid AS code FROM (
                SELECT s.vec_id, s.m, c.cid,
                       row_number() OVER (PARTITION BY s.vec_id, s.m
                           ORDER BY {asn0} DESC, c.cid ASC) AS rn
                FROM sub s JOIN c1 c ON s.m = c.m)
            WHERE rn = 1),
        qsub AS (SELECT m, sv AS qsv FROM sub WHERE vec_id = 0),
        dt AS (
            SELECT c.m, c.cid, ({idot_qc})::BIGINT AS pdot,
                   ({idot_cc})::BIGINT AS cnorm2
            FROM c1 c JOIN qsub q ON c.m = q.m),
        qn AS (SELECT ({idot_qq})::BIGINT AS qn2 FROM qe WHERE vec_id = 0),
        agg AS (
            SELECT k.vec_id, sum(d.pdot)::BIGINT AS sp,
                   sum(d.cnorm2)::BIGINT AS sc2,
                   string_agg(lpad(hex(k.code), 2, '0'), ''
                              ORDER BY k.m) AS pq_code
            FROM codes k JOIN dt d ON k.m = d.m AND k.code = d.cid
            WHERE k.vec_id <> 0 GROUP BY k.vec_id)
        SELECT a.vec_id, a.pq_code,
               CASE WHEN a.sc2 = 0 THEN -2.0 ELSE
                    round(a.sp::DOUBLE / (sqrt(q.qn2::DOUBLE)
                          * sqrt(a.sc2::DOUBLE)), 6) END AS score
        FROM agg a, qn q
        ORDER BY score DESC, a.vec_id ASC LIMIT {TOPK}
    """


EXTRA_QUERIES = {"ann_pq_topk": q_ann_pq_topk}
EXTRA_ORACLES = {"ann_pq_topk": _pq_oracle()}
