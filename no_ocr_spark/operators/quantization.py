"""INT8 scalar quantization (SQ8) for the vector-search path — the
storage/bandwidth lever the reference tunes on its Qdrant twin
(`no-ocr-api/tests/lance_vs_qdrant.py:96-102`: INT8 scalar quantization,
always_ram) and the last SURVEY §4 optional item: 4x smaller vectors, so
at 100 TB the ANN scan reads a quarter of the bytes and the codes table
broadcasts where floats could not.

Spark-first, exact-oracle design:

  * TRAIN (one scan + a dim-sized agg): per-DIMENSION min/max over the
    corpus — computed on the repo's deterministic 1e7-scaled int64
    embedding quantization (`retrieval._quant`), so the range stats are
    EXACT integers, identical in both engines.
  * ENCODE (map-only): code_d = round_half_up((q_d - min_d) * 255 /
    span_d), computed entirely in int64 as
    ((q_d - min_d) * 510 + span_d) div (2 * span_d) — integer division
    of non-negative values truncates identically in Spark (`div`) and
    DuckDB (`//`), so the CODES are bit-identical across engines (no
    float-tie hazard at all). Constant dimensions (span 0) code to 0.
    The stats ride a broadcast single-row crossJoin into the encode
    expression — in-DAG, no driver collect, no plan-build job.
  * STORE: codes pack to a dim-byte BINARY column via hex/unhex
    (`sq8_packed_col`) — the physical 4x-smaller layout; the graded
    query emits md5 over the hex string (portable across engines, and
    pins every byte of the packed layout).
  * SEARCH (asymmetric, the standard SQ recipe): the query stays full
    precision, stored vectors dequantize on the fly
    (min_d + code_d * span_d / 255); exact cosine top-k over the
    dequantized codes, TakeOrderedAndProject.

Recall/error bound: |dequant - original| <= span_d / (2*255) per
dimension (round-half-up midpoint), asserted in tests along with
top-k agreement against the float path on the driver fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.operators.retrieval import _cosine, _quant
from no_ocr_spark.sources.tables import load_table

DIM = 64
LEVELS = 255


def sq8_codes_expr(dialect: str, qv: str, minqs: str, spans: str) -> str:
    """array<int64 codes in 0..255>: exact integer round-half-up."""
    if dialect == "spark":
        return (
            f"transform(sequence(1, {DIM}), i -> "
            f"case when element_at({spans}, i) = 0 then cast(0 as bigint) "
            f"else ((element_at({qv}, i) - element_at({minqs}, i)) "
            f"* {2 * LEVELS} + element_at({spans}, i)) "
            f"div (2 * element_at({spans}, i)) end)"
        )
    return (
        f"list_transform(generate_series(1, {DIM}), i -> "
        f"case when {spans}[i] = 0 then 0::BIGINT "
        f"else (({qv}[i] - {minqs}[i]) * {2 * LEVELS} + {spans}[i]) "
        f"// (2 * {spans}[i]) end)"
    )


def sq8_hex_expr(dialect: str, codes: str) -> str:
    """codes -> 2*dim hex chars (the packed byte layout, portably)."""
    if dialect == "spark":
        return (f"concat_ws('', transform({codes}, "
                f"c -> lpad(hex(c), 2, '0')))")
    return (f"array_to_string(list_transform({codes}, "
            f"c -> lpad(hex(c), 2, '0')), '')")


def sq8_dequant_expr(dialect: str, codes: str, minqs: str,
                     spans: str) -> str:
    """codes -> double array back on the original float scale."""
    if dialect == "spark":
        return (
            f"transform(sequence(1, {DIM}), i -> "
            f"(cast(element_at({minqs}, i) as double) "
            f"+ cast(element_at({codes}, i) as double) "
            f"* cast(element_at({spans}, i) as double) / {LEVELS}.0) / 1e7)"
        )
    return (
        f"list_transform(generate_series(1, {DIM}), i -> "
        f"({minqs}[i]::DOUBLE + {codes}[i]::DOUBLE * {spans}[i]::DOUBLE "
        f"/ {LEVELS}.0) / 1e7)"
    )


def sq8_dequant_direct_expr(qv: str, minqs: str, spans: str) -> str:
    """Fused encode+dequant: dv_i = (min_i + code_i * span_i / 255) / 1e7
    with code_i computed inline — ONE transform of DIM elements per row.

    Composing `sq8_dequant_expr` over a `codes` column lets
    CollapseProject inline the 64-element codes transform INSIDE each
    element of the dequant transform: element_at(transform(...), i)
    re-evaluates the whole inner array per dimension — O(DIM^2)
    INTERPRETED higher-order-function work per row (HOF lambdas never
    reach codegen). Measured 5x on the IVFxSQ8 checkpoint leg (r6).
    Arithmetic per element is bit-identical to encode-then-dequant."""
    code = (
        f"case when element_at({spans}, i) = 0 then cast(0 as bigint) "
        f"else ((element_at({qv}, i) - element_at({minqs}, i)) "
        f"* {2 * LEVELS} + element_at({spans}, i)) "
        f"div (2 * element_at({spans}, i)) end"
    )
    return (
        f"transform(sequence(1, {DIM}), i -> "
        f"(cast(element_at({minqs}, i) as double) "
        f"+ cast(({code}) as double) "
        f"* cast(element_at({spans}, i) as double) / {LEVELS}.0) / 1e7)"
    )


def sq8_encode(emb: DataFrame) -> DataFrame:
    """(vec_id, label, embedding) -> + qv, codes, minqs, spans columns.
    Stats are a one-row broadcast (no driver collect)."""
    from no_ocr_spark.plans.partitioning import fan_out_for_cpu

    q = fan_out_for_cpu(emb, emb.sparkSession).select(
        "vec_id", "label", F.expr(_quant("spark", "embedding")).alias("qv")
    )
    stats = (
        q.filter(F.col("vec_id") != 0)
        .select(F.posexplode("qv").alias("pos", "val"))
        .groupBy("pos").agg(F.min("val").alias("mn"),
                            F.max("val").alias("mx"))
        .agg(F.array_sort(F.collect_list(
            F.struct("pos", "mn", "mx"))).alias("a"))
        .select(
            F.expr("transform(a, x -> x.mn)").alias("minqs"),
            F.expr("transform(a, x -> x.mx - x.mn)").alias("spans"),
        )
    )
    return q.crossJoin(F.broadcast(stats)).withColumn(
        "codes", F.expr(sq8_codes_expr("spark", "qv", "minqs", "spans"))
    )


def sq8_packed_col() -> F.Column:
    """The physical storage column: dim bytes of BINARY per vector."""
    return F.expr(f"unhex({sq8_hex_expr('spark', 'codes')})")


def _query_vec(emb: DataFrame) -> DataFrame:
    """Full-precision query vector (vec_id=0) from a PLAIN scan — never
    from the encoded frame, which would re-run the stats aggregation +
    crossJoin subtree just to project one row (review finding; shared by
    both ANN queries so the derivation cannot drift between them)."""
    return emb.filter(F.col("vec_id") == 0).select(
        F.expr(f"transform({_quant('spark', 'embedding')}, "
               f"v -> cast(v as double) / 1e7)").alias("qd")
    )


def q_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric SQ8 search: full-precision query (vec_id=0) against
    dequantized INT8 codes, exact cosine top-5. Emits the per-vector
    packed-code md5 so the oracle pins every byte of the layout."""
    emb = load_table(spark, sf_dir, "embeddings")
    enc = sq8_encode(emb)
    qd = _query_vec(emb)
    # score over the FUSED dequant (sq8_dequant_direct_expr) — composing
    # the dequant transform over the codes column would inline the
    # 64-element codes transform inside every element reference
    # (O(DIM^2) interpreted HOF work per row). It is staged once as `dq`
    # below the cosine, which references its vector argument several
    # times; CollapseProject keeps a non-cheap expression with several
    # consumers in its own projection. codes itself is still
    # materialized exactly once, for the digest.
    dqd = sq8_dequant_direct_expr("qv", "minqs", "spans")
    return (
        enc.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qd))
        .select("vec_id", "label", "codes", "qd", F.expr(dqd).alias("dq"))
        .select(
            "vec_id", "label",
            F.round(F.expr(_cosine("spark", "dq", "qd")), 6)
            .alias("score"),
            F.md5(F.expr(sq8_hex_expr("spark", "codes")).cast("binary"))
            .alias("sq8_digest"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
    )


N_LISTS = 8   # IVF coarse lists (deterministic centroids: vec_ids 1..8)
N_PROBE = 2


def q_ann_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x SQ8 — the production ANN combo (coarse inverted lists over
    compressed codes; the reference's Qdrant twin runs exactly this
    pairing: INT8 scalar quantization under an ANN index): every stored
    vector lives ONLY as its SQ8 codes; list assignment, probing, and
    scoring all run over the dequantized codes (centroids = the
    dequantized codes of vec_ids 1..8), with the full-precision query
    probing asymmetrically. Scale shape: assignment is
    broadcast(8 centroids) x scan over dim-byte codes (4x less scan IO
    than floats), probing rescores ~N_PROBE/N_LISTS of the corpus."""
    # r6 (guide §1.2/§2.4, same rewrite as q_ann_ivf_kmeans): the SQ8
    # range stats are 2*DIM exact ints and the coarse centroids are
    # N_LISTS dequantized vectors — collect both, inline them as
    # literals, and run list assignment as one map-side argmax over a
    # localCheckpoint'd (vec_id, label, dv) frame. The old lazy form
    # re-instantiated the stats subtree three times and shuffled every
    # (vector x centroid) pair through a row_number window; the
    # checkpoint also keeps the probe's cid filter from being pushed —
    # re-expanded — into the single-task parquet scan. Bit-identical
    # output (same argmax pick semantics, same fold arithmetic).
    from no_ocr_spark.operators.retrieval import _csim_lit, _with_cid

    emb = load_table(spark, sf_dir, "embeddings")
    raw = emb.select("vec_id", "label", "embedding")
    # fused encode+dequant (sq8_dequant_direct_expr): the codes column
    # is never materialized, so the O(DIM^2) CollapseProject inline of
    # transform-inside-transform never forms (r6)
    d = (
        sq8_encode(emb)
        .select("vec_id", "label",
                F.expr(sq8_dequant_direct_expr(
                    "qv", "minqs", "spans")).alias("dv"))
        .localCheckpoint()
    )
    cents_rows = sorted(
        (int(r["vec_id"]), [float(v) for v in r["dv"]])
        for r in d.filter(F.col("vec_id").between(1, N_LISTS)).collect()
    )
    qd_rows = _query_vec(raw).collect()
    qd0 = [float(v) for v in qd_rows[0]["qd"]] if qd_rows else None
    probe_structs = ", ".join(
        f"named_struct('cid', {cid}L, 'csim', {_csim_lit('qd', cv, DIM)})"
        for cid, cv in cents_rows
    )
    pcids = [
        r["cid"]
        for r in _query_vec(raw)
        .select(F.explode(F.expr(f"array({probe_structs})")).alias("c"))
        .select("c.cid", "c.csim")
        .orderBy(F.desc("csim"), F.asc("cid"))
        .limit(N_PROBE)
        .collect()
    ]
    res = (
        _with_cid(d.filter(F.col("vec_id") != 0), cents_rows, vec="dv")
        .filter(F.col("cid").isin(pcids))
        .select(
            "vec_id", "label", "cid",
            F.expr(_csim_lit("dv", qd0 if qd0 is not None else [0.0] * DIM,
                             DIM)).alias("score"),
        )
    )
    if qd0 is None:
        # no vec_id=0: the old qd crossJoin made the result empty
        res = res.filter(F.lit(False))
    return res.orderBy(F.desc("score"), F.asc("vec_id")).limit(5)


QUERIES: dict = {}
EXTRA_QUERIES = {"ann_sq8_topk": q_ann_sq8_topk,
                 "ann_ivf_sq8_topk": q_ann_ivf_sq8_topk}


def _oracle() -> str:
    qv = "list_transform(embedding, v -> round(v::DOUBLE * 10000000)::BIGINT)"
    codes = sq8_codes_expr("duckdb", "qv", "minqs", "spans")
    dq = sq8_dequant_expr("duckdb", "codes", "minqs", "spans")
    return f"""
        WITH q AS (
          SELECT vec_id, label, {qv} AS qv FROM embeddings
        ),
        dims AS (
          SELECT i.i AS pos, min(qv[i.i]) AS mn, max(qv[i.i]) AS mx
          FROM q, (SELECT unnest(generate_series(1, {DIM})) AS i) i
          WHERE vec_id <> 0 GROUP BY i.i
        ),
        stats AS (
          SELECT list(mn ORDER BY pos) AS minqs,
                 list(mx - mn ORDER BY pos) AS spans
          FROM dims
        ),
        enc AS (
          SELECT vec_id, label, {codes} AS codes, minqs, spans
          FROM q, stats WHERE vec_id <> 0
        ),
        qry AS (
          SELECT list_transform(qv, v -> v::DOUBLE / 1e7) AS qd
          FROM q WHERE vec_id = 0
        )
        SELECT vec_id, label,
               round({_cosine("duckdb", f"({dq})", "qd")}, 6) AS score,
               md5({sq8_hex_expr("duckdb", "codes")}) AS sq8_digest
        FROM enc, qry
        ORDER BY score DESC, vec_id ASC
        LIMIT 5
    """


def _ivf_oracle() -> str:
    qv = "list_transform(embedding, v -> round(v::DOUBLE * 10000000)::BIGINT)"
    codes = sq8_codes_expr("duckdb", "qv", "minqs", "spans")
    dq = sq8_dequant_expr("duckdb", "codes", "minqs", "spans")
    cos_assign = _cosine("duckdb", "d.dv", "c.cv")
    cos_probe = _cosine("duckdb", "x.qd", "c.cv")
    cos_final = _cosine("duckdb", "b.dv", "x.qd")
    return f"""
        WITH q AS (
          SELECT vec_id, label, {qv} AS qv FROM embeddings
        ),
        dims AS (
          SELECT i.i AS pos, min(qv[i.i]) AS mn, max(qv[i.i]) AS mx
          FROM q, (SELECT unnest(generate_series(1, {DIM})) AS i) i
          WHERE vec_id <> 0 GROUP BY i.i
        ),
        stats AS (
          SELECT list(mn ORDER BY pos) AS minqs,
                 list(mx - mn ORDER BY pos) AS spans
          FROM dims
        ),
        enc AS (
          SELECT vec_id, label, {codes} AS codes, minqs, spans
          FROM q, stats
        ),
        dqd AS (
          SELECT vec_id, label, {dq} AS dv FROM enc
        ),
        cents AS (
          SELECT vec_id AS cid, dv AS cv FROM dqd
          WHERE vec_id BETWEEN 1 AND {N_LISTS}
        ),
        best AS (
          SELECT vec_id, label, dv, cid FROM (
            SELECT d.vec_id, d.label, d.dv, c.cid,
                   row_number() OVER (PARTITION BY d.vec_id
                       ORDER BY round({cos_assign}, 6) DESC, c.cid ASC)
                     AS rn
            FROM dqd d, cents c)
          WHERE rn = 1
        ),
        qd AS (
          SELECT list_transform(qv, v -> v::DOUBLE / 1e7) AS qd
          FROM q WHERE vec_id = 0
        ),
        probe AS (
          SELECT c.cid AS pcid
          FROM qd x, cents c
          ORDER BY round({cos_probe}, 6) DESC, c.cid ASC
          LIMIT {N_PROBE}
        )
        SELECT b.vec_id, b.label, b.cid,
               round({cos_final}, 6) AS score
        FROM best b
        JOIN probe p ON b.cid = p.pcid
        CROSS JOIN qd x
        WHERE b.vec_id <> 0
        ORDER BY score DESC, b.vec_id ASC
        LIMIT 5
    """


EXTRA_ORACLES = {"ann_sq8_topk": _oracle(),
                 "ann_ivf_sq8_topk": _ivf_oracle()}
