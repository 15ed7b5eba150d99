#!/usr/bin/env python3
"""Derive `workloads.json` from committed files.

    python3 perfbench/split.py

The rule splits the engine's whole query registry (every name in
`graft.SparkEntry.queries`) into three workloads, so no query is left
out and none is in two:

  multistage   queries with 9 or more stages in bench_metrics.json
  doc_kernels  the rest whose oracle SQL reads `documents` or `embeddings`
  sql_small    the rest

Each workload also names its timed queries: a fixed sample that a
time-boxed run times on every seed. The sample is picked by operator
family, one query for each family the workload stands for: the query
that open work on the family targets (q_pagerank, q_dedup_minhash),
else one of the family's cheaper queries, so that the sample fits a
run. TIMED below lists each with its family. The sum of the samples' per-query seconds in
bench_last.json is the workload's nominal pass time, which scales the
number of timed passes to `--seconds`.
"""
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TIMED = {  # workload -> {timed query: operator family}
    "sql_small": {
        "q_filter": "scan, filter and project",
        "q_agg": "hash aggregate",
        "q_join_inner": "equi-join",
        "q_asof_join": "as-of join",
        "q_window_rank": "window",
        "q_sort": "global sort",
        "q_set_ops": "set operations",
        "q_rollup": "grouping sets",
        "q_fuzzy_match": "Jaro-Winkler fuzzy match",
        "q_scd2": "slowly changing dimension merge",
    },
    "doc_kernels": {
        "q_text_stats": "text statistics kernel",
        "q_html_extract": "HTML extraction",
        "q_zstd_dict": "zstd decoder",
        "q_audio_meta": "audio container parsers",
        "q_pdf_extract": "document decoders",
        "q_png_features": "image decoders",
        "q_ann_brute": "cosine similarity",
    },
    "multistage": {
        "q_pagerank": "graph rounds",
        "q_dedup_minhash": "MinHash LSH dedup",
        "q_kmeans": "trainer (k-means iterations)",
        "q_ann_sq8": "approximate nearest neighbours",
    },
}
DOC_TABLES = re.compile(r"\b(from|join)\s+(documents|embeddings)\b", re.I)


def split(catalog, stages, seconds):
    multi = sorted(q for q in catalog if stages[q] >= 9)
    rest = sorted(q for q in catalog if q not in multi)
    docs = [q for q in rest if DOC_TABLES.search(catalog[q])]
    small = [q for q in rest if q not in docs]
    out = {}
    for name, qs in (("sql_small", small), ("doc_kernels", docs), ("multistage", multi)):
        timed = sorted(TIMED[name])
        assert set(timed) <= set(qs), f"{name}: timed queries outside the workload"
        out[name] = {"queries": qs, "timed": timed,
                     "families": {q: TIMED[name][q] for q in timed},
                     "nominal_pass_s": round(sum(seconds[q] for q in timed), 3)}
    return out


def main():
    sys.path.insert(0, HERE)
    import run
    root = run.checkout_root()
    with open(os.path.join(root, "bench_metrics.json")) as f:
        stages = {q: m["stages"] for q, m in json.load(f)["queries"].items()}
    with open(os.path.join(root, "bench_last.json")) as f:
        seconds = json.load(f)["queries"]
    run.build(root)
    catalog = run.catalog(root)
    workloads = split(catalog, stages, seconds)
    assert sorted(q for w in workloads.values() for q in w["queries"]) == sorted(catalog)
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump({"rule": __doc__.split("\n\n")[1:4], "workloads": workloads}, f, indent=1)
        f.write("\n")
    for name, w in workloads.items():
        print(f"{name:12s} {len(w['queries']):4d} queries, timed: {', '.join(w['timed'])}")


if __name__ == "__main__":
    main()
