"""Product quantization (operators/pq.py): code geometry (M codes in
1..K, 2*M-hex packed layout), ADC recall vs the exact float path, and
refit sanity (codebook means stay inside the quantized value range).
Exact engine-vs-oracle equality — codes AND scores bit-equal — is
covered by tests/test_oracle_parity.py::ann_pq_topk."""

from __future__ import annotations

from no_ocr_spark.operators.pq import K, M, SUB, q_ann_pq_topk
from no_ocr_spark.operators.retrieval import DIM, q_cosine_topk

SF = "/root/testdata/sf0.01"


def test_geometry_constants():
    assert M * SUB == DIM


def test_codes_shape_and_range(spark):
    rows = q_ann_pq_topk(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert len(r.pq_code) == 2 * M  # M packed bytes, hex
        codes = [int(r.pq_code[i:i + 2], 16) for i in range(0, 2 * M, 2)]
        assert all(1 <= c <= K for c in codes)
        assert -1.0 <= r.score <= 1.0  # real cosine estimate, not the
        # -2.0 degenerate-centroid sentinel


def test_adc_recall_vs_exact_float_path(spark):
    """PQ is lossy by design; on the deterministic driver fixture the
    ADC top-10 must still recover part of the exact cosine top-10
    (measured: 3/10 at the gate-scale K=16, M=8, 1 Lloyd round —
    production K=256 recalls far more; the fixture's 500 random
    64-dim vectors are a worst case, near-uniform pairwise cosines).
    The fixture is deterministic, so the measured overlap IS the
    assertion."""
    exact = {r.vec_id for r in q_cosine_topk(spark, SF).collect()}
    pq10 = {r.vec_id for r in q_ann_pq_topk(spark, SF).collect()}
    assert len(exact & pq10) == 3


def test_deterministic_across_reruns(spark):
    a = [tuple(r) for r in q_ann_pq_topk(spark, SF).collect()]
    b = [tuple(r) for r in q_ann_pq_topk(spark, SF).collect()]
    assert a == b


def _expr_nodes(df) -> int:
    """Catalyst expression nodes in the optimized plan (a LocalRelation's
    rows are data, not expressions)."""
    import json

    def walk(v):
        if isinstance(v, list):
            return sum(walk(x) for x in v)
        if isinstance(v, dict):
            own = str(v.get("class", "")).startswith(
                "org.apache.spark.sql.catalyst.expressions.")
            return own + sum(walk(x) for x in v.values())
        return 0

    return walk(json.loads(df._jdf.queryExecution().optimizedPlan().toJSON()))


def test_assignment_plan_does_not_grow_with_codebook(spark):
    """The assignment step over a K=16 and a K=256 codebook per subspace
    (synthetic ints) plans the same expressions: the codebook is joined
    as data, never inlined into the expressions."""
    from pyspark.sql import functions as F

    from no_ocr_spark.operators.pq import _assign, _codebook, _slices

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr(f"transform(sequence(1, {M * SUB}), "
               "i -> (id * 31 + i * 17) % 201 - 100)").alias("qv"))
    sizes = {}
    for k in (16, 256):
        cents = {m: [(cid, [(m * 977 + cid * 131 + i * 53) % 199 - 99
                            for i in range(SUB)])
                     for cid in range(1, k + 1)]
                 for m in range(1, M + 1)}
        picked = _assign(_slices(emb), _codebook(spark, cents), carry=False)
        sizes[k] = _expr_nodes(picked)
        rows = picked.select(
            *[(-F.col(f"_p{m}.ncid")).alias(f"c{m}") for m in range(1, M + 1)]
        ).collect()
        assert len(rows) == 40
        assert all(1 <= c <= k for r in rows for c in r)
    assert sizes[16] == sizes[256]


def test_no_codegen_stage_over_jvm_method_limit(spark):
    """Every whole-stage-codegen subtree of the query compiles, and no
    generated method reaches the JVM's 64 KB bytecode limit (a codebook
    inlined as literal structs overflows it already at K=16)."""
    df = q_ann_pq_topk(spark, SF)
    df.collect()  # AQE builds its codegen stages at execution
    subtrees = df._jdf.queryExecution().debug().codegenToSeq()
    assert subtrees.size() > 0
    for i in range(subtrees.size()):
        stats = subtrees.apply(i)._3()
        assert 0 <= stats.maxMethodCodeSize() < 64 * 1024, \
            subtrees.apply(i)._1()
