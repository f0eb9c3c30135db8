"""Physical-plan audit: assert the plans we designed are the plans we got.

For each audited query: capture .explain("formatted"), count exchanges,
check filter/column pushdown and broadcast usage, and write PLANS.md with
the evidence.  Run:  python scripts/audit_plans.py
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

AUDITS = [
    # (query name, expectations dict)
    ("q_doc_stats", {"max_exchanges": 0, "pushed": None,
     "note": "pure projection: scan must read only the 4 needed columns"}),
    ("q_page_subset", {"pushed": "In(l_linenumber", "max_exchanges": 1,
     "note": "IN-list reaches the parquet scan; one agg shuffle"}),
    ("q_min_size", {"pushed": "GreaterThanOrEqual(p_size,25", "max_exchanges": 0,
     "note": "conjunctive filter fully pushed; no shuffle"}),
    ("q_equi_join", {"broadcast": True, "max_exchanges": 2,
     "note": "dim broadcast: fact side never shuffles for the join"}),
    ("q_doc_summary", {"max_exchanges": 1,
     "note": "partial+final hash agg, single shuffle"}),
    ("q_ordered_concat", {"max_exchanges": 1,
     "note": "sort-keyed collect_list: single shuffle, no Window exchange"}),
    ("q_reading_order", {"max_exchanges": 1,
     "note": "array_sort formulation keeps multi-key ordering off the Window path"}),
    ("q_ann_topk", {"broadcast": True, "absent": "Generate",
     "note": "query vectors broadcast as whole arrays; per-row zip_with/aggregate dots — NO posexplode of the big side (VERDICT.md r1 item 4)"}),
    ("q_ann_lsh", {"absent": "Generate",
     "note": "literal-plane per-row buckets (no index-build join), bucket self-join, per-row re-rank; no explode anywhere"}),
    ("q_ocr_lines", {"arrow_python": True, "max_exchanges": 2,
     "note": "round 3: ONE Arrow kernel stage (shared extraction pass); boxes are a JVM flatten/posexplode projection of the extracted blocks; exchanges = fan-out repartition + the (doc,y) agg shuffle"}),
    ("q_ann_ivf_trained", {"broadcast": True,
     "note": "two Lloyd iterations, each a broadcast 1-row centroid array + per-row argmin fold + one groupBy; trained-cell probe + broadcast query re-rank; the big embedding side is never exploded"}),
    ("q_pdf_cmap", {"arrow_python": True, "max_exchanges": 1,
     "note": "map-only serialize+parse gate over spark.range; single final-agg exchange"}),
    ("q_pdf_encrypted", {"arrow_python": True, "max_exchanges": 1,
     "note": "map-only encrypt+decrypt+parse gate; single final-agg exchange"}),
    ("q_jpeg_420", {"arrow_python": True, "max_exchanges": 1,
     "note": "map-only 4:2:0 encode/decode gate; single final-agg exchange"}),
    ("q_jpeg_progressive", {"arrow_python": True, "max_exchanges": 1,
     "note": "map-only SOF2 multi-scan codec gate; single final-agg exchange"}),
    ("q_bigram_fluency", {"broadcast": True,
     "note": "vocabulary-bounded bigram model BROADCASTS to the scoring join — the exploded gram stream never shuffles for the join, only for the model build and the per-doc fold"}),
    ("q_repetition", {"absent": "Generate", "max_exchanges": 1,
     "note": "duplicate-line and top-bigram stats as per-row array folds (sorted-run fold finds the modal bigram) — no token explode; the only exchange is the CPU fan-out repartition"}),
    ("q_paragraph_dedup", {"max_exchanges": 2,
     "note": "paragraph explode is a map; exchanges = fan-out + the single hash groupBy (survivor encoded into one min(), no window)"}),
    ("q_dedup_verify", {
     "note": "Jaccard verify joins run only on LSH-candidate pairs — the bucket-scoped composition; overlap is per-row array_intersect"}),
    ("q_fingerprint", {"max_exchanges": 0, "absent": "Window",
     "note": "array-native 4-gram fingerprint: pure projection — zero shuffles, no window (round-1 formulation had both)"}),
    ("q_simhash", {"absent": "Generate", "max_exchanges": 1,
     "note": "all 16 sketch bits as per-row folds; the only exchange is the CPU fan-out repartition"}),
    ("q_bm25", {"broadcast": True, "absent": "Generate",
     "note": "per-term tf via size(filter(words)); corpus stats one broadcast single-row agg; no words explode"}),
    ("q_kmeans_step", {"broadcast": True, "max_exchanges": 3, "absent": "Window",
     "note": "Lloyd step: per-row argmin fold over ONE broadcast centroid row (no Window shuffle); exchanges = fan-out + 8-row centroid agg + the means groupBy"}),
    ("q_salted_agg", {"max_exchanges": 2,
     "note": "two-phase salted agg: exactly two shuffles by design"}),
    ("q_extract_text", {"arrow_python": True, "max_exchanges": 1,
     "note": "one Arrow-batched python stage (the kernel); fan-out repartition"}),
    ("q_semi_join", {"broadcast": True, "max_exchanges": 1,
     "note": "existence test as LeftSemi; only the join key of orders ships"}),
    ("q_anti_join", {"broadcast": True, "max_exchanges": 1,
     "note": "resume primitive as LeftAnti"}),
    ("q_range_join", {"max_exchanges": 3,
     "note": "equi user-key carries the join; time band is a join filter, not a nested loop"}),
    ("q_pii_scrub", {"max_exchanges": 0, "absent": "Generate",
     "note": "round 4: PII redaction is a zero-shuffle codegen projection — three regexp passes per row, scan-bound at 100 TB"}),
    ("q_chunk_tokens", {"max_exchanges": 0, "absent": "Window",
     "note": "round 4: context-window chunking explodes output-proportionally map-side (Generate) with ZERO exchanges — chunks stream straight to the sink"}),
    ("q_domain_mix", {"max_exchanges": 2, "absent": "Generate",
     "note": "round 4: mixture sampling is a row-local md5 predicate; exchanges = the 20-strata audit agg + final sort only — membership itself never shuffles"}),
    ("q_pack_sequences", {"max_exchanges": 2, "absent": "Generate",
     "note": "round 4: per-bucket greedy packing — the window's bucket repartition is the only data shuffle (groupBy(bucket,bin) reuses the bucket clustering); + final sort"}),
    ("q_pdf_tables", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 4: map-only PDF-grid serialize + x-cluster table detection gate; single final-agg exchange"}),
    ("q_pdf_fontcmap", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 4: map-only embedded-TrueType-cmap decode gate (Type0 without /ToUnicode); single final-agg exchange"}),
    ("q_bpe_merge_step", {"max_exchanges": 3, "absent": "Window",
     "note": "round 4: BPE pair counts over the DISTINCT-WORD vocabulary (vocab groupBy -> pair groupBy -> TakeOrdered top-K) — vocabulary-bounded after the first shuffle, never corpus-positional"}),
    ("q_quality_model", {"max_exchanges": 0, "absent": "Generate",
     "note": "round 4: linear quality-model inference is a zero-shuffle per-row projection (weights inlined / broadcastable)"}),
    ("q_crawl_meta", {"arrow_python": True, "max_exchanges": 0,
     "note": "round 4: map-only canonical/robots harvest gate — per-doc rows straight out of the Arrow stage, zero exchanges"}),
    ("q_unicode_norm", {"arrow_python": True, "max_exchanges": 0,
     "note": "round 4: NFC normalization is a zero-shuffle Arrow projection (unicodedata vs utf8proc two-implementation conformance check)"}),
    ("q_hash_embed", {"max_exchanges": 4,
     "note": "round 4: hashing-trick featurizer — ONE md5 per word (per-row transform), bucket-int explode into a map-side-combined groupBy (shuffle bounded by docs x dims, never tokens) + dense-fill join; the zero-shuffle dims-by-words probe fold rehashed every word per dimension (measured 45 s vs 2 s at sf0.1)"}),
    ("q_char_entropy", {"max_exchanges": 2, "absent": "Window",
     "note": "round 4: char entropy — the explode never reaches the shuffle: map-side partial agg collapses (doc_id, ch) to <= |alphabet| rows/doc/partition, shuffle bounded by docs x alphabet"}),
    ("q_kmv_distinct", {"max_exchanges": 5, "absent": "Window",
     "note": "round 4: KMV sketch — map-side partial distinct + TakeOrdered k-min (driver merges K rows/partition); exchanges are the vocabulary-bounded distinct + two 1-row aggs + broadcast cross of two singletons"}),
    ("q_pdf_ucs2", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 4: map-only predefined-UCS2-CMap decode gate (Type0 without /ToUnicode, code == UCS-2 point); single final-agg exchange"}),
    ("q_ocr_tables", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 4: OCR-raster table gate — render/recognize/cluster entirely in the Arrow stage; single final-agg exchange"}),
    ("q_ocr_raster", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 4: map-only raster-OCR recognition gate (render -> PNG round-trip -> template matching); single final-agg exchange"}),
    ("q_ocr_proportional", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 5: proportional-pitch recognition gate (variable-advance render -> PNG round-trip -> joint segmentation+recognition DP); single final-agg exchange"}),
    ("q_pdf_embedded_cmap", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 5: map-only embedded-/Encoding-CMap decode gate (code->CID stream composed with descendant font program); single final-agg exchange"}),
    ("q_pdf_cjk", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 5: map-only predefined national-encoding CMap gate "
             "(90ms-RKSJ/GBK-EUC/ETen-B5/KSCms-UHC/Uni*-UTF16 twins vs the "
             "certified UCS2 route); single final-agg exchange"}),
    ("q_pdf_mixed_cmap", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 5: map-only mixed-width embedded-CMap gate (per-byte "
             "codespace-range show-string split vs the certified UCS2 "
             "route); single final-agg exchange"}),
    ("q_pdf_usecmap", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 5: map-only /UseCMap composition gate (embedded "
             "overrides + predefined-base fallthrough vs the certified "
             "UCS2 route); single final-agg exchange"}),
    ("q_pdf_simple_enc", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 5: map-only simple-font encoding gate (WinAnsi/"
             "MacRoman base tables, /Differences AGL names, 1-byte "
             "ToUnicode vs the certified UCS2 route); single final-agg "
             "exchange"}),
    ("q_pdf_form", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 5: map-only Form-XObject gate (Do execution + "
             "/Matrix composition + resource scoping + recursive "
             "image walk vs the flat twin); single final-agg "
             "exchange"}),
    ("q_gzip_transparent", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 5: map-only transparent-gunzip twin gate (full "
             "result-tree equality across kinds, 64 MiB bomb cap); "
             "single final-agg exchange"}),
    ("q_ccitt", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 5: map-only CCITT G4/G3-1D twin gate (Flate-gray vs CCITT pixel identity); single final-agg exchange"}),
    ("q_table_merge", {"arrow_python": True,
     "note": "round 5: multi-page table merge — Arrow stage emits the exploded tables stream; the MERGE itself is relational (window lag on column signature -> running-sum segments -> groupBy stitch)"}),
    ("q_pdf_links", {"arrow_python": True, "max_exchanges": 1,
     "note": "round 4: map-only /Annots link-URI harvesting gate (PDF + DOM twins vs spec); single final-agg exchange"}),
    ("q_substring_dedup", {"max_exchanges": 4,
     "note": "round 4: winnowing fingerprints are per-row array folds (grams + window-min never explode); exchanges = fan-out + fp groupBy + fp join + doc groupBy — linear, no pair enumeration"}),
    ("q_decontaminate", {"broadcast": True,
     "note": "round 4: benchmark fingerprint set BROADCASTS to the membership join — the corpus side never shuffles for the test, only for the per-doc rollup"}),
    ("q_dedup_verify_capped", {"present": ["row_number", "<= 12)"],
     "note": "round 5: per-bucket candidate cap (VERIFY_BUCKET_CAP=12) applied as a row_number window + Filter BELOW the verify joins — pairs per bucket bounded at cap*(cap-1)/2 regardless of template-cluster size"}),
    ("q_dup_clusters", {"absent": "CartesianProduct",
     "note": "round 4: label propagation now runs over STAR edges (hub = min doc per (band,bkey) window) — edge count bounded by the 8n band rows instead of within-bucket cliques; fixpoint joins stay equi-keyed, never cartesian"}),
]


def main() -> None:
    from pdf_extractor_spark.operators import registry
    from pdf_extractor_spark.session import get_spark
    import __spark_entry__  # noqa: F401  (populates registry)

    spark = get_spark(cores=8, app="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"

    out = ["# Physical-plan audit\n",
           "Generated by `python scripts/audit_plans.py` on sf0.01.",
           "Each section: the expectation we designed for, whether the",
           "captured plan meets it, and the plan itself.\n"]
    failures = []
    for name, exp in AUDITS:
        df = registry.QUERIES[name](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_exch = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        has_bhj = "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        has_arrow = ("ArrowEvalPython" in plan or "MapInPandas" in plan
                     or "MapInArrow" in plan or "FlatMapGroupsInPandas" in plan)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        checks = []
        ok = True
        if exp.get("max_exchanges") is not None:
            good = n_exch <= exp["max_exchanges"]
            ok &= good
            checks.append(f"exchanges={n_exch} (<= {exp['max_exchanges']}): {'OK' if good else 'FAIL'}")
        if exp.get("pushed"):
            good = any(exp["pushed"] in p for p in pushed)
            ok &= good
            checks.append(f"pushdown contains `{exp['pushed']}`: {'OK' if good else 'FAIL'}")
        if exp.get("broadcast"):
            ok &= has_bhj
            checks.append(f"broadcast join present: {'OK' if has_bhj else 'FAIL'}")
        if exp.get("arrow_python"):
            ok &= has_arrow
            checks.append(f"Arrow python stage present: {'OK' if has_arrow else 'FAIL'}")
        if exp.get("absent"):
            good = exp["absent"] not in plan
            ok &= good
            checks.append(f"plan free of `{exp['absent']}`: {'OK' if good else 'FAIL'}")
        for needle in exp.get("present", []):
            good = needle in plan
            ok &= good
            checks.append(f"plan contains `{needle}`: {'OK' if good else 'FAIL'}")
        if not ok:
            failures.append(name)
        out.append(f"## {name} — {'PASS' if ok else 'FAIL'}\n")
        out.append(f"_{exp['note']}_\n")
        out.append("- " + "\n- ".join(checks) + "\n")
        if pushed:
            out.append(f"- PushedFilters: {pushed}\n")
        out.append("<details><summary>plan</summary>\n\n```\n" + plan.strip() + "\n```\n</details>\n")

    (REPO / "PLANS.md").write_text("\n".join(out))
    print("FAILURES:", failures if failures else "none")
    spark.stop()


if __name__ == "__main__":
    main()
