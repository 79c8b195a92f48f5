"""20x corpus stress harness: replicate the sf0.1 documents table 20x
(doc_id offset per replica) into a scratch sf-dir and time catalog
queries at 1x vs 20x (warm min-of-2, noop sink) — the per-round scale
datapoint SCALE.md records for heavy operators.

Usage: python tools/stress20x.py <query> [query ...]
           [--suffix-words] [--fixed TABLE[,TABLE...]]
           [--fixed-docs-pred SQL_PREDICATE]
           [--fixed-emb-pred SQL_PREDICATE]

--suffix-words appends a per-replica suffix to every word, so the
DISTINCT vocabulary also grows 20x (the realistic shape for tokenizer
stress; verbatim replicas keep the distinct-word set fixed, which
isolates the occurrence-scaling path instead).

--fixed pins whole named tables at 1x (symlinked, never replicated)
while the rest scale — e.g. --fixed embeddings scales documents 20x
against the base embedding table.

--fixed-docs-pred / --fixed-emb-pred pin a SLICE of the documents /
embeddings table at 1x: rows matching the DuckDB predicate appear
ONLY in the base replica, so a fixed-contract side (a benchmark that
does not grow with the corpus, a serving query batch) stays constant
while the corpus side grows — the DEPLOYMENT shape for queries whose
contract fixes one side (round-13 verdict task 3; previously measured
by hand):
    semantic_decontaminate / decontamination_report:
        --fixed-docs-pred "source = 'src0'"
    hybrid_topk_rrf / hybrid_topk_weighted (the lexical queries come
    from documents, the dense queries from embeddings — BOTH sides
    must pin or the dense query batch silently grows 20x):
        --fixed-docs-pred "doc_id % 50 = 0" \\
        --fixed-emb-pred "vec_id % 50 = 0"
(kn_doc_scores' fixed-vocab shape is the DEFAULT no-flag form:
verbatim replicas keep the distinct vocabulary constant.)
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

BASE = "/root/testdata/sf0.1"
REPLICAS = 20


def build(
    out_dir: str,
    suffix_words: bool,
    fixed_tables: frozenset[str] = frozenset(),
    fixed_docs_pred: str | None = None,
    fixed_emb_pred: str | None = None,
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    dst = os.path.join(out_dir, "documents.parquet")
    # per-table existence checks (no early return): a scratch dir from
    # an older tool version has 20x documents but only a 1x embeddings
    # symlink, and the embeddings repair below must still run
    if "documents" not in fixed_tables and not os.path.exists(dst):
        text_expr = (
            "regexp_replace(text, '(\\S+)', '\\1x' || r.r, 'g')"
            if suffix_words
            else "text"
        )
        # a fixed slice rides only in the base replica (r = 0): the
        # corpus side grows 20x while the pinned side stays constant
        where = (
            f"WHERE r.r = 0 OR NOT ({fixed_docs_pred})"
            if fixed_docs_pred
            else ""
        )
        duckdb.connect().sql(
            f"""
COPY (
  SELECT d.doc_id + r.r * 1000000 AS doc_id,
         {text_expr} AS text,
         d.lang, d.source, d.n_chars
  FROM read_parquet('{BASE}/documents.parquet') d
  CROSS JOIN (SELECT unnest(range({REPLICAS})) AS r) r
  {where}
) TO '{dst}' (FORMAT PARQUET)
"""
        )
    # embeddings also replicate 20x (vec_id offset) so the ANN family
    # gets a real corpus-side stress, not a symlink of the 1x table
    edst = os.path.join(out_dir, "embeddings.parquet")
    if os.path.islink(edst) and "embeddings" not in fixed_tables:
        os.remove(edst)  # scratch dir from an older tool version
    if "embeddings" not in fixed_tables and not os.path.exists(edst):
        ewhere = (
            f"WHERE r.r = 0 OR NOT ({fixed_emb_pred})"
            if fixed_emb_pred
            else ""
        )
        duckdb.connect().sql(
            f"""
COPY (
  SELECT e.vec_id + r.r * 1000000 AS vec_id, e.embedding, e.label
  FROM read_parquet('{BASE}/embeddings.parquet') e
  CROSS JOIN (SELECT unnest(range({REPLICAS})) AS r) r
  {ewhere}
) TO '{edst}' (FORMAT PARQUET)
"""
        )
    # remaining (and fixed) tables: symlink so any query in the chain
    # resolves, and a fixed table is exactly the 1x base
    for f in os.listdir(BASE):
        name = f.rsplit(".", 1)[0]
        replicated = name in ("documents", "embeddings") and (
            name not in fixed_tables
        )
        if not replicated and not os.path.exists(os.path.join(out_dir, f)):
            os.symlink(os.path.join(BASE, f), os.path.join(out_dir, f))


def main() -> None:
    args = sys.argv[1:]
    names, fixed_tables, fixed_docs_pred = [], frozenset(), None
    fixed_emb_pred = None
    suffix_words = False
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--suffix-words":
            suffix_words = True
        elif a == "--fixed":
            i += 1
            fixed_tables = frozenset(args[i].split(","))
        elif a == "--fixed-docs-pred":
            i += 1
            fixed_docs_pred = args[i]
        elif a == "--fixed-emb-pred":
            i += 1
            fixed_emb_pred = args[i]
        elif a.startswith("--"):
            raise SystemExit(f"unknown flag {a}")
        else:
            names.append(a)
        i += 1
    unknown = fixed_tables - {"documents", "embeddings"}
    if unknown:
        raise SystemExit(
            f"--fixed only pins replicated tables: {sorted(unknown)} "
            "(everything else is already 1x by symlink)"
        )

    out_dir = "/tmp/sf0.1x20" + ("_sw" if suffix_words else "")
    if fixed_tables or fixed_docs_pred or fixed_emb_pred:
        tag = hashlib.md5(
            f"{sorted(fixed_tables)}|{fixed_docs_pred}|{fixed_emb_pred}"
            .encode()
        ).hexdigest()[:6]
        out_dir += f"_fx{tag}"
    build(out_dir, suffix_words, fixed_tables, fixed_docs_pred,
          fixed_emb_pred)

    from tools.benchlib import timed_noop
    from traits_data_spark import catalog
    from traits_data_spark.session import get_spark

    spark = get_spark("stress20x")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = catalog.QUERIES[name]
        for label, d in (("1x", BASE), ("20x", out_dir)):
            times = [round(timed_noop(spark, fn, d)[1], 2) for _ in range(2)]
            print(
                {
                    "query": name,
                    "scale": label,
                    "suffix_words": suffix_words,
                    "fixed": sorted(fixed_tables),
                    "fixed_docs_pred": fixed_docs_pred,
                    "fixed_emb_pred": fixed_emb_pred,
                    "times": times,
                    "min": min(times),
                    "load_1m": round(os.getloadavg()[0], 2),
                },
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
