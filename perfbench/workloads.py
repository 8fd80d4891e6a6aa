"""The three workloads. Each one:

* `build()` makes its seeded inputs and any Spark-free reference, in
  plain Python (it runs while the Spark session starts);
* `prepare(spark)` finishes set-up that needs the session;
* `warm_up()` runs set-up's untimed operation, if the workload has one;
* `reset()` + `op()` in the timed loop, and `check()` after every
  operation, returning (attempted, failed);
* `traced(ctx)` runs one operation, plus direct calls into each layer's
  public functions, under job groups, and returns per-layer metrics.

Workloads call only the program's public entry points and read its
outputs from disk; nothing in the program is patched.
"""

from __future__ import annotations

import collections
import hashlib
import importlib.util
import json
import os
import shutil
import tempfile
import time

import pyarrow.parquet as pq

from perfbench import inputs, spec
from perfbench.probe import ROWS, summarize


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _busy(jobs: list[dict]) -> float:
    """Seconds covered by at least one job of the list."""
    spans = sorted((j["start"], j["end"]) for j in jobs if j["end"])
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def spark_layer(summary: dict) -> dict:
    return {f"spark.{k}": summary[k] for k in
            ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "task_skew")}


class Workload:
    name = ""

    def __init__(self, data: str, work: str, seed: int, size: dict):
        self.data, self.work, self.seed, self.size = data, work, seed, size
        self.out = os.path.join(work, "out")
        self.workers = len(os.sched_getaffinity(0))
        self.digest = inputs.program_digest(spec.ROOT)

    def warm_up(self) -> tuple[int, int]:
        self.reset()
        self.op()
        return self.check()

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def traced_call(self, ctx, label: str, fn):
        """Run fn under a job group and a span; return (result, wall,
        jobs, operators). Jobs become child spans named by call site."""
        with ctx.probe.group(label) as gid, ctx.tracer.span(label) as sp:
            t0 = time.perf_counter()
            res = fn()
            wall = time.perf_counter() - t0
        jobs, execs = ctx.probe.jobs(gid), ctx.probe.executions(gid)
        kind = {j: e["kind"] for e in execs for j in e["jobs"]}
        for j in jobs:
            ctx.tracer.add(f"{kind.get(j['job'], 'rdd')}: {j['call_site']}",
                           j["start"], j["end"], sp)
        ctx.groups.append({"group": gid, "wall_s": wall, "jobs": jobs,
                           "executions": [{k: e[k] for k in ("execution", "kind", "jobs")}
                                          for e in execs]})
        return res, wall, jobs, execs


class ExtractWeb(Workload):
    """extract_job's path: run_with_lineage into a fresh output dir."""

    name = "extract_web"

    def build(self) -> None:
        pool = inputs.pool_dir(self.data, self.digest, self.workers)
        root, self.hit = inputs.pages_dir(
            self.data, self.digest, pool, self.seed, self.size["docs"])
        self.pages_path = os.path.join(root, "pages")
        rows = inputs.read_rows(self.pages_path, ["url", "html"])
        self.payloads = [(r["url"], r["html"]) for r in rows]
        # extract_document's output for each payload, in payload order
        self.ref = inputs.read_rows(os.path.join(root, "reference.parquet"),
                                    ["url", "text", "spans"])

    def prepare(self, spark) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        self.spark = spark
        self.pages = spark.read.parquet(self.pages_path)
        # the ledger's documented checksum, over the plain-Python texts
        ref = spark.createDataFrame(pd.DataFrame({
            "url": [r["url"] for r in self.ref],
            "text": [r["text"] for r in self.ref]}))
        rows = (
            ref.groupBy(F.pmod(F.xxhash64("url"), F.lit(spec.N_BUCKETS))
                        .cast("int").alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.lower(F.hex(F.bit_xor(F.xxhash64("url", "text"))))
                 .alias("checksum"))
            .collect())
        self.expected = {r.bucket: (r.n, r.checksum) for r in rows}

    def docs(self) -> int:
        return len(self.payloads)

    def op(self) -> None:
        from no_ocr_spark.plans.lineage import run_with_lineage

        run_with_lineage(self.spark, self.pages, self.out, spec.N_BUCKETS)

    def check(self) -> tuple[int, int]:
        """Per-bucket ledger checksums against the reference, plus docs
        the extractor quarantined (non-null error)."""
        ledger = {r["bucket"]: (r["n_docs"], r["checksum"], r["status"])
                  for r in inputs.read_rows(os.path.join(self.out, "lineage"))}
        failed = 0
        for b in set(ledger) | set(self.expected):
            n, chk = self.expected.get(b, (0, None))
            if ledger.get(b) != (n, chk, "done"):
                failed += max(n, ledger.get(b, (0,))[0])
        errors = pq.read_table(os.path.join(self.out, "extracted"),
                               columns=["error"]).column("error")
        failed += len(errors) - errors.null_count
        return self.docs(), min(failed, self.docs())

    def write_amp(self) -> float:
        return inputs.du(self.out) / inputs.du(self.pages_path)

    def traced(self, ctx) -> tuple[float, dict]:
        from no_ocr_spark.operators.extract_udf import extract

        self.reset()
        _, wall, jobs, execs = self.traced_call(ctx, "lineage.run_with_lineage",
                                              self.op)
        s = summarize(jobs, execs)
        m = spark_layer(s)
        m.update({
            "lineage.jobs": s["jobs"],
            "lineage.write_jobs_s": s["write_jobs_s"],
            "lineage.read_jobs_s": s["read_jobs_s"],
            "lineage.between_jobs_s": wall - _busy(jobs),
            "lineage.shuffle_write_bytes": s["shuffle_write_bytes"],
        })
        ext = pq.read_table(os.path.join(self.out, "extracted"),
                            columns=["method", "error"]).to_pylist()
        errors = collections.Counter(
            f"{r['method']}.{r['error'].split(':')[0]}"
            for r in ext if r["error"] is not None)
        ctx.extra["extract.errors"] = dict(errors)
        m["extract.errors"] = sum(errors.values())
        m.update(self.l0(ctx))
        _, stage_s, _, execs = self.traced_call(
            ctx, "extract_udf.extract", lambda: _noop(extract(self.pages)))
        u = summarize([], execs)
        m.update({
            "extract_udf.stage_s": stage_s,
            "extract_udf.py_bytes_in": u["py_bytes_in"],
            "extract_udf.py_bytes_out": u["py_bytes_out"],
            "extract_udf.py_worker_s": u["py_worker_s"],
            "extract_udf.core_efficiency":
                ctx.l0_total_s / (ctx.cores * stage_s),
        })
        return wall, m

    L0_HTML = 2000

    def l0(self, ctx) -> dict:
        """The extractor body in plain Python, per format, and the calls
        that make it up: tokenize, segment_tokens, classify for HTML;
        parse_pdf, page_text for PDF. Timed over every PDF and the first
        L0_HTML HTML payloads; the per-format rates scale it to the
        whole corpus for core_efficiency."""
        from no_ocr_spark.extract.api import extract_document
        from no_ocr_spark.extract.boilerplate import classify, segment_tokens
        from no_ocr_spark.extract.html_tokenizer import decode_bytes, tokenize
        from no_ocr_spark.extract.pdf import is_pdf, page_text, parse_pdf

        t = collections.Counter()
        n = collections.Counter()
        clock = time.perf_counter
        kinds = ["pdf" if is_pdf(p) else "html" for _u, p in self.payloads]
        pdfs = [p for (_u, p), k in zip(self.payloads, kinds) if k == "pdf"]
        htmls = [p for (_u, p), k in zip(self.payloads, kinds) if k == "html"]
        for payload in pdfs:  # fill the per-process key-derivation cache
            extract_document(payload)
        with ctx.tracer.span("extract.l0"):
            for kind, payload in ([("pdf", p) for p in pdfs]
                                  + [("html", p) for p in htmls[:self.L0_HTML]]):
                t0 = clock()
                extract_document(payload)
                t[kind] += clock() - t0
                n[kind] += 1
                if kind == "pdf":
                    t0 = clock()
                    pages = parse_pdf(payload)
                    t1 = clock()
                    for p in pages:
                        if p:
                            page_text(p)
                    t["parse_pdf"] += t1 - t0
                    t["page_text"] += clock() - t1
                else:
                    html = decode_bytes(payload)
                    t0 = clock()
                    tokenize(html)
                    t1 = clock()
                    blocks = segment_tokens(html)
                    t2 = clock()
                    classify(blocks)
                    t["tokenize"] += t1 - t0
                    t["segment_tokens"] += t2 - t1
                    t["classify"] += clock() - t2
        ctx.l0_total_s = (t["html"] * len(htmls) / max(n["html"], 1)
                          + t["pdf"] * len(pdfs) / max(n["pdf"], 1))
        recs = self.ref
        return {
            "extract.html.docs_per_s_core": n["html"] / t["html"] if t["html"] else 0.0,
            "extract.pdf.docs_per_s_core": n["pdf"] / t["pdf"] if t["pdf"] else 0.0,
            "extract.tokenize_s": t["tokenize"],
            "extract.segment_tokens_s": t["segment_tokens"],
            "extract.classify_s": t["classify"],
            "extract.parse_pdf_s": t["parse_pdf"],
            "extract.page_text_s": t["page_text"],
            "extract.spans_per_doc": sum(len(r["spans"]) for r in recs) / len(recs),
            "extract.chars_per_doc": sum(len(r["text"]) for r in recs) / len(recs),
        }


class CleanDups(Workload):
    """clean_job's full-table path: clean_corpus, then its bucketed write."""

    name = "clean_dups"

    def build(self) -> None:
        pool = inputs.pool_dir(self.data, self.digest, self.workers)
        root, self.hit = inputs.extracted_dir(
            self.data, self.digest, pool, self.seed, self.size["base_docs"],
            {"exact": self.size["exact_dup_share"],
             "near": self.size["near_dup_share"],
             "repetitive": self.size["repetitive_share"]})
        self.in_path = os.path.join(root, "extracted")
        with open(os.path.join(root, "expect.json")) as f:
            self.expect = json.load(f)
        # the clean checksum of this (seed, size, program), shared by
        # every run
        self.sum_path = os.path.join(root, "clean_checksum")
        self.first_sum = None

    def prepare(self, spark) -> None:
        self.spark = spark
        self.extracted = spark.read.parquet(self.in_path)

    def docs(self) -> int:
        return self.expect["n_in"]

    def op(self) -> None:
        from no_ocr_spark.jobs.clean_job import _write_clean
        from no_ocr_spark.operators.cleanup import clean_corpus

        clean, stats = clean_corpus(self.extracted)
        finalize = stats.pop("_finalize")
        _write_clean(clean, spec.N_BUCKETS, os.path.join(self.out, "clean"))
        self.stats = finalize()

    def clean_checksum(self) -> tuple[int, str]:
        rows = inputs.read_rows(os.path.join(self.out, "clean"),
                                ["url", "text"])
        h = hashlib.sha256()
        for r in sorted(rows, key=lambda r: r["url"]):
            h.update(f"{r['url']}\0{r['text']}\0".encode())
        return len(rows), h.hexdigest()

    def check(self) -> tuple[int, int]:
        """Stage counts the injection implies, and one clean checksum per
        seed across operations and runs."""
        e, s = self.expect, self.stats
        ok = all(s[k] == e[k] for k in ("n_in", "n_after_quality",
                                        "n_after_repetition",
                                        "n_after_exact_dedup"))
        n_rows, chk = self.clean_checksum()
        ok = ok and n_rows == s["n_clean"] <= s["n_after_exact_dedup"]
        if self.first_sum is None:
            self.first_sum = chk
            if not os.path.exists(self.sum_path):
                with open(self.sum_path, "w") as f:
                    f.write(chk)
            with open(self.sum_path) as f:
                ok = ok and f.read() == chk
        ok = ok and chk == self.first_sum
        return self.docs(), 0 if ok else self.docs()

    def write_amp(self) -> float:
        return inputs.du(self.out) / inputs.du(self.in_path)

    def traced(self, ctx) -> tuple[float, dict]:
        from pyspark.sql import functions as F

        from no_ocr_spark.operators.cleanup import MIN_TOKENS, near_dup_losers
        from no_ocr_spark.operators.repetition import with_repetition_flag
        from no_ocr_spark.operators.webops import pii_scrub_expr

        self.reset()
        _, wall, jobs, execs = self.traced_call(ctx, "cleanup.clean_job", self.op)
        s = summarize(jobs, execs)
        m = spark_layer(s)
        m.update({
            "cleanup.jobs": s["jobs"],
            "cleanup.write_jobs_s": s["write_jobs_s"],
            "cleanup.read_jobs_s": s["read_jobs_s"],
            "cleanup.between_jobs_s": wall - _busy(jobs),
        })
        m.update({f"cleanup.{k}": v for k, v in self.stats.items()})

        text = self.extracted.select("url", "text")
        flagged, m["repetition.flag_s"], _, _ = self.traced_call(
            ctx, "repetition.with_repetition_flag",
            lambda: with_repetition_flag(text)
            .agg(F.sum(F.col("is_repetitive").cast("int"))).first()[0])
        ctx.extra["repetition.flagged"] = flagged
        # near_dup_losers over the rows that reach it in the cascade: the
        # docs that pass the quality gate, minus the injected exact copies
        # and repetitive docs (the stage counts checked above pin that set)
        survivors = self.extracted.filter(
            F.col("error").isNull()
            & (F.expr("size(split(text, ' '))") >= MIN_TOKENS)
            & ~F.col("url").rlike(r"\?(dup|rep)=")).select("url", "text")
        _, m["cleanup.near_dup_losers_s"], _, execs = self.traced_call(
            ctx, "cleanup.near_dup_losers",
            lambda: near_dup_losers(survivors).count())
        probed, ver = _self_join_rows(execs)
        m["cleanup.band_rows_probed"] = probed
        m["cleanup.verified_pairs"] = ver
        m["cleanup.verify_yield"] = ver / probed if probed else 0.0
        _, m["webops.pii_scrub_s"], _, _ = self.traced_call(
            ctx, "webops.pii_scrub",
            lambda: _noop(text.select(F.expr(pii_scrub_expr("text")))))
        return wall, m


def _self_join_rows(execs: list[dict]) -> tuple[float, float]:
    """(band rows probed, verified pairs) of near_dup_losers' band
    self-join: the rows reaching the join from its input side, and the
    rows it emits. Spark evaluates the slot-agreement verify inside the
    join condition, so the join's output is already verified."""
    for e in execs:
        children: dict[int, list[dict]] = {}
        for n in e["nodes"]:
            for p in n["parents"]:
                children.setdefault(p, []).append(n)
        for n in e["nodes"]:
            if "Join" not in n["name"] or ROWS not in n["metrics"]:
                continue
            probed = 0.0
            for child in children.get(n["id"], []):
                todo = [child]
                while todo:
                    c = todo.pop()
                    if ROWS in c["metrics"]:
                        probed = max(probed, c["metrics"][ROWS])
                    else:
                        todo += children.get(c["id"], [])
            return probed, n["metrics"][ROWS]
    return 0.0, 0.0


class OperatorQueries(Workload):
    """One pass = every listed registry query, each forced by bench.py's
    bit_xor(xxhash64(struct(*))) checksum. There is no warm-up: the timed
    pass is the session's first, as in a spark-submit job. A warm-up
    pass costs 18-25 s on 4 cores even over 100-row tables (it is plan
    compilation, not data), which would add half again to a run."""

    name = "operator_queries"

    def build(self) -> None:
        n_docs, n_vecs = self.size["documents_rows"], self.size["embeddings_rows"]
        self.canon_dir, _ = inputs.tables_dir(self.data, None, n_docs, n_vecs)
        self.sf_dir, self.hit = inputs.tables_dir(self.data, self.seed,
                                                  n_docs, n_vecs)
        self.queries = self.size["queries"]
        # checksums over the canonical row order, per code version
        self.canon_path = os.path.join(self.canon_dir,
                                       f"checksums-{self.digest}.json")
        self.canon = None

    def prepare(self, spark) -> None:
        entry = importlib.util.spec_from_file_location(
            "perfbench_spark_entry", os.path.join(spec.ROOT, "__spark_entry__.py"))
        mod = importlib.util.module_from_spec(entry)
        entry.loader.exec_module(mod)
        self.qmap = {**mod.queries(), **mod.extra_queries()}
        self.spark = spark
        # the round-trip queries write under tempfile.gettempdir(): point
        # it at the output dir, which only they use
        tempfile.tempdir = self.out

    def docs(self) -> int:
        return self.size["documents_rows"] + self.size["embeddings_rows"]

    def warm_up(self) -> tuple[int, int]:
        return 0, 0

    def reset(self) -> None:
        super().reset()
        os.makedirs(self.out)

    def run_query(self, name: str, sf_dir: str):
        return (self.qmap[name](self.spark, sf_dir)
                .selectExpr("bit_xor(xxhash64(struct(*))) AS chk")
                .collect()[0][0])

    def op(self) -> None:
        self.sums = {q: self.run_query(q, self.sf_dir) for q in self.queries}

    def canonical(self) -> dict:
        """The canonical order's checksums: computed by the first run of
        a code version, after its timed pass, and stored for the rest."""
        if self.canon is None:
            if not os.path.exists(self.canon_path):
                self.reset()
                sums = {q: self.run_query(q, self.canon_dir) for q in self.queries}
                with open(self.canon_path + ".tmp", "w") as f:
                    json.dump(sums, f)
                os.replace(self.canon_path + ".tmp", self.canon_path)
            with open(self.canon_path) as f:
                self.canon = json.load(f)
        return self.canon

    def check(self) -> tuple[int, int]:
        """Every checksum must equal the canonical order's: the seed only
        permutes rows."""
        canon = self.canonical()
        bad = [q for q in self.queries if self.sums[q] != canon.get(q)]
        return len(self.queries), len(bad)

    def write_amp(self) -> float:
        return inputs.du(self.out) / inputs.du(self.sf_dir)

    def traced(self, ctx) -> tuple[float, dict]:
        self.reset()
        self.sums, m, all_jobs, all_execs = {}, {}, [], []
        for q in self.queries:
            self.sums[q], wall, jobs, execs = self.traced_call(
                ctx, f"q.{q}", lambda q=q: self.run_query(q, self.sf_dir))
            s = summarize(jobs, execs)
            m[f"q.{q}_s"] = wall
            m[f"q.{q}.jobs"] = s["jobs"]
            m[f"q.{q}.shuffle_write_bytes"] = s["shuffle_write_bytes"]
            m[f"q.{q}.py_bytes"] = s["py_bytes_in"] + s["py_bytes_out"]
            all_jobs += jobs
            all_execs += execs
        m.update(spark_layer(summarize(all_jobs, all_execs)))
        return sum(m[f"q.{q}_s"] for q in self.queries), m


WORKLOADS = {w.name: w for w in (ExtractWeb, CleanDups, OperatorQueries)}
