"""Seeded benchmark inputs, cached by (workload, seed, size).

Everything is built in plain Python and written with pyarrow, so no
Spark job runs while the session starts. The document workloads draw a
seeded sample from one pool of pages made by the program's generator
(`sources.synth.make_page`) and extracted once with the plain-Python
extractor. `sources.synth_spark.materialize_pages` is not used: it
caches by scale factor alone, so a second seed would silently get the
first seed's corpus.

A cache entry is a directory completed by an atomic rename; a missing or
half-written entry is rebuilt. The name of every entry that holds the
program's output, or expected values derived from it, carries a digest
of the program's and the benchmark's sources, so those values always
come from the code version that runs.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import shutil
from concurrent.futures import ProcessPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
SPAN = pa.struct([
    ("page", pa.int32()), ("text", pa.string()), ("x0", pa.float32()),
    ("y0", pa.float32()), ("x1", pa.float32()), ("y1", pa.float32()),
    ("block", pa.int32()), ("line", pa.int32()),
])
EXTRACTED_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("lang", pa.string()), ("text", pa.string()), ("n_blocks", pa.int32()),
    ("n_chars", pa.int64()), ("method", pa.string()), ("error", pa.string()),
    ("spans", pa.list_(SPAN)),
])
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EMBEDDINGS_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])


def program_digest(root: str) -> str:
    """sha256 over the Python sources of the program (no_ocr_spark/,
    __spark_entry__.py) and of this benchmark, path and content."""
    paths = [os.path.join(root, "__spark_entry__.py")]
    for top in ("no_ocr_spark", "perfbench"):
        for d, _dirs, files in os.walk(os.path.join(root, top)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def pmap(fn, items: list, workers: int) -> list:
    """fn over items in `workers` processes, order kept."""
    with ProcessPoolExecutor(workers) as ex:
        return list(ex.map(fn, items,
                           chunksize=max(1, len(items) // (4 * workers))))


def cached(path: str, build) -> tuple[str, bool]:
    """Return (path, hit). On a miss, `build(tmp_dir)` fills a fresh
    directory that is then renamed into place."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, True
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, False


def write_parts(rows: list[dict], schema: pa.Schema, path: str,
                n_files: int) -> None:
    """Contiguous row ranges into n_files parquet files, one row group
    each — the layout Spark's writer gives a `spark.range` source."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * step:(k + 1) * step]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema=schema),
                           os.path.join(path, f"part-{k:05d}.parquet"))


def read_rows(path: str, columns: list[str] | None = None) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


# --- the page pool ------------------------------------------------------

POOL_DOCS = 12000
POOL_SEED = 0


def extracted_row(page: dict) -> dict:
    """The extracted-table row extract_job writes for one page, computed
    with the plain-Python extractor."""
    from no_ocr_spark.extract.api import extract_document

    r = extract_document(page["html"])
    return {"url": page["url"], "warc_ts": page["warc_ts"],
            "lang": page["lang"], "text": r["text"],
            "n_blocks": r["n_blocks"], "n_chars": len(r["text"]),
            "method": r["method"], "error": r["error"], "spans": r["spans"]}


def pool_dir(data: str, digest: str, workers: int) -> str:
    """POOL_DOCS pages, make_page(POOL_SEED, i), and each one's
    extracted-table row from the plain-Python extractor, built once per
    program version. make_page costs ~2.4 ms a doc and extraction ~0.8,
    so the workloads draw their seeded corpora from here instead of
    generating them in every run's set-up."""
    from no_ocr_spark.sources.synth import make_page

    def build(tmp: str) -> None:
        pages = pmap(functools.partial(make_page, POOL_SEED),
                     range(POOL_DOCS), workers)
        pq.write_table(pa.Table.from_pylist(pages, schema=PAGES_SCHEMA),
                       os.path.join(tmp, "pages.parquet"))
        rows = pmap(extracted_row, pages, workers)
        pq.write_table(pa.Table.from_pylist(rows, schema=EXTRACTED_SCHEMA),
                       os.path.join(tmp, "extracted.parquet"))

    path = os.path.join(data, "pool", f"n{POOL_DOCS}-seed{POOL_SEED}-{digest}")
    return cached(path, build)[0]


def draw(pool: str, table: str, seed: int, n: int) -> pa.Table:
    """n rows of a pool table, chosen and ordered by seed."""
    idx = random.Random(f"perfbench-draw:{seed}").sample(range(POOL_DOCS), n)
    return pq.read_table(os.path.join(pool, f"{table}.parquet")).take(idx)


# --- extract_web ----------------------------------------------------------

def n_page_files(n_docs: int) -> int:
    """The partition count `synth_spark.pages_df` would use."""
    return max(8, min(64, n_docs // 500 or 1))


def pages_dir(data: str, digest: str, pool: str, seed: int, n_docs: int,
              ) -> tuple[str, bool]:
    """The seed's corpus (pages/) and its reference rows (reference/)."""
    path = os.path.join(data, "extract_web", f"n{n_docs}-seed{seed}-{digest}")

    def build(tmp: str) -> None:
        write_parts(draw(pool, "pages", seed, n_docs).to_pylist(),
                    PAGES_SCHEMA, os.path.join(tmp, "pages"),
                    n_page_files(n_docs))
        pq.write_table(draw(pool, "extracted", seed, n_docs),
                       os.path.join(tmp, "reference.parquet"))

    return cached(path, build)


# --- clean_dups -----------------------------------------------------------

def passes_quality(row: dict, min_tokens: int = 10) -> bool:
    """clean_corpus's quality gate: no error and >= min_tokens tokens
    under split(text, ' ')."""
    return row["error"] is None and len(row["text"].split(" ")) >= min_tokens


def inject(base: list[dict], seed: int, exact: float, near: float,
           repetitive: float) -> tuple[list[dict], dict]:
    """base + exact copies under new urls + one-word-edited near copies +
    repetitive docs. Returns (rows, what the injection implies)."""
    rng = random.Random(f"perfbench-inject:{seed}")
    n = len(base)
    exact_src = rng.sample(range(n), round(exact * n))
    html = [i for i, r in enumerate(base)
            if r["method"].startswith("html") and passes_quality(r)]
    near_src = rng.sample(html, round(near * n))
    rows = list(base)
    for k, i in enumerate(exact_src):
        rows.append(dict(base[i], url=f"{base[i]['url']}?dup={k}"))
    for k, i in enumerate(near_src):
        words = base[i]["text"].split(" ")
        p = rng.randrange(len(words) // 4, 3 * len(words) // 4)
        words[p] = words[p] + "x"
        text = " ".join(words)
        rows.append(dict(base[i], url=f"{base[i]['url']}?near={k}",
                         text=text, n_chars=len(text)))
    n_rep = round(repetitive * n)
    for k in range(n_rep):
        src = base[rng.choice(html)]
        words = src["text"].split(" ")
        p = rng.randrange(0, len(words) - 3)
        text = " ".join(words[p:p + 3] * 40)
        rows.append(dict(src, url=f"{src['url']}?rep={k}", text=text,
                         n_chars=len(text), spans=[]))
    n_quality = sum(passes_quality(r) for r in rows)
    expect = {
        "n_in": len(rows),
        "n_after_quality": n_quality,
        # base docs never trip the repetition gate; the injected ones do
        "n_after_repetition": n_quality - n_rep,
        "n_exact_dups": sum(passes_quality(base[i]) for i in exact_src),
        "n_near_dups": len(near_src),
        "n_repetitive": n_rep,
    }
    expect["n_after_exact_dedup"] = (expect["n_after_repetition"]
                                     - expect["n_exact_dups"])
    return rows, expect


def extracted_dir(data: str, digest: str, pool: str, seed: int, n_base: int,
                  shares: dict) -> tuple[str, bool]:
    path = os.path.join(data, "clean_dups", f"n{n_base}-seed{seed}-{digest}")

    def build(tmp: str) -> None:
        base = draw(pool, "extracted", seed, n_base).to_pylist()
        rows, expect = inject(base, seed, **shares)
        write_parts(rows, EXTRACTED_SCHEMA, os.path.join(tmp, "extracted"), 4)
        with open(os.path.join(tmp, "expect.json"), "w") as f:
            json.dump(expect, f)

    return cached(path, build)


# --- operator_queries -----------------------------------------------------
# The documents/embeddings tables of TESTDATA.md are not in the
# checkout; these generators reproduce the properties measured on them
# (sf0.01: 500 + 500 rows, which the oracle-parity tests read; sf0.1:
# 5000 + 2000 rows, which bench.py reads):
# * text: 10-100 words (flat), each drawn uniformly from a 31-word
#   vocabulary; about 5% of docs are another doc's text plus " dup"
#   (a copy of a copy gets "dup dup"; two copies of one doc are exact
#   duplicates: 8 of 5000 rows at sf0.1, none at sf0.01);
# * lang: en 41%, zh/es/fr/de about 15% each; source = src{doc_id % 20};
# * embedding: 64-dim iid unit vectors (mean |component| 0.100, cosine
#   to the own label's centroid no higher than chance), label uniform
#   over 10 values independent of the vector.

_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS, _LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_COPY_SHARE = 0.05


def documents(n: int) -> list[dict]:
    """Fixed documents table in the TESTDATA.md table's schema."""
    import numpy as np

    rng = np.random.default_rng(20240601)
    texts = [" ".join(rng.choice(_VOCAB, size=rng.integers(10, 100)))
             for _ in range(n)]
    for i in sorted(rng.choice(n, size=round(NEAR_COPY_SHARE * n),
                               replace=False)):
        j = int(rng.integers(n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    langs = rng.choice(_LANGS, size=n, p=_LANG_P)
    return [{"doc_id": i, "text": t, "lang": str(langs[i]),
             "source": f"src{i % 20}", "n_chars": len(t)}
            for i, t in enumerate(texts)]


def embeddings(n: int, dim: int = 64, n_labels: int = 10) -> list[dict]:
    """Fixed iid unit vectors with labels independent of them."""
    import numpy as np

    rng = np.random.default_rng(20240602)
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    labels = rng.integers(n_labels, size=n)
    return [{"vec_id": i, "embedding": vecs[i].tolist(),
             "label": int(labels[i])} for i in range(n)]


def tables_dir(data: str, seed: int | None, n_docs: int, n_vecs: int,
               ) -> tuple[str, bool]:
    """The query tables in canonical order (seed None) or permuted by
    seed, one single-row-group parquet file per table."""
    tag = "canon" if seed is None else f"seed{seed}"
    path = os.path.join(data, "operator_queries",
                        f"n{n_docs}-{n_vecs}-{tag}")

    def build(tmp: str) -> None:
        for name, rows, schema in (
                ("documents", documents(n_docs), DOCUMENTS_SCHEMA),
                ("embeddings", embeddings(n_vecs), EMBEDDINGS_SCHEMA)):
            if seed is not None:
                random.Random(f"perfbench-perm:{seed}:{name}").shuffle(rows)
            pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                           os.path.join(tmp, f"{name}.parquet"))

    return cached(path, build)


def du(path: str) -> int:
    """Bytes of the data files under path (Spark's .crc and _SUCCESS
    markers excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total
