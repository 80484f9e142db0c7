"""Print `.explain("formatted")` physical plans of the headline queries
as markdown on stdout — the plan-shape evidence behind
tests/test_plans.py:
filters reach the parquet scan (PushedFilters), the enrich join is a
BroadcastHashJoin, the parse stage is exactly one MapInArrow (no
per-row BatchEvalPython anywhere), and relational queries run inside
WholeStageCodegen spans.

Usage: python tools/dump_plans.py [sf_dir] > plans.md
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as em  # noqa: E402
from console_log_parser_spark.session import get_spark  # noqa: E402

SHOWN = [
    ("pipeline_sink_summary",
     "pipeline_parse_route_aggregate's exact shape (the costliest "
     "bench query times this same build_pipeline DAG): pruned 4-column "
     "parquet scan -> ONE MapInArrow parse stage (whole-batch UTF-32 "
     "decode + compiled-regex classification, operators/parse.py) -> "
     "broadcast route-dimension join -> partial+final hash "
     "aggregation per sink."),
    ("doc_simhash_pairs",
     "SimHash near-dup (costliest single bench query): map-side md5 + "
     "32 packed conditional sums -> ONE exchange of 33 longs per doc "
     "for the signature (persisted: both LSH join sides read it once) "
     "-> integer-keyed 4x16-bit block-LSH equi-join -> Hamming filter "
     "BEFORE the pair-dedup exchange, so the distinct ships only "
     "actual near-dup pairs (two ids + a tinyint-sized int)."),
    ("pipeline_severity_hist",
     "Flagship parse->enrich->route->aggregate. One MapInArrow parse "
     "stage fused over the scan; broadcast enrich join; "
     "partial+final hash aggregation."),
    ("q3_shipping_priority",
     "TPC-H-style 3-way join: filters pushed into all three parquet "
     "scans, broadcast joins, whole-stage codegen."),
    ("doc_minhash_dedup",
     "MinHash+LSH dedup: shingle explode -> single-pass minhash "
     "aggregate -> band-bucket equi-join -> exact-Jaccard verify."),
    ("ann_lsh_top10",
     "LSH-bucketed ANN: hyperplane bucketing, bucket equi-join, "
     "per-partition partial top-k. (The BroadcastNestedLoopJoin here "
     "is the ONE-ROW query vector attached to the candidate set — a "
     "1xN broadcast, not a corpus self-join.)"),
    ("events_asof_interleave",
     "As-of interleave (J4): union + range-partitioned lag "
     "(operators/windows.py). At THIS sf the operator auto-narrows: "
     "Catalyst's size estimate fits one partition, so the plan below "
     "is a single exchange + in-partition window with the boundary "
     "machinery skipped (the AQE-style small-input decision). Above "
     "the size bound the same call plans the scale path — "
     "RangePartitioning exchange, in-partition window, and a "
     "triangular BroadcastNestedLoopJoin over the per-partition tail "
     "table (<= one row per range partition, data-size-independent); "
     "tests/test_windows.py pins both shapes and their equivalence."),
    ("embedding_neardup",
     "Embedding near-dup: hyperplane-LSH bucket equi-join candidates "
     "+ exact-cosine verify; no CartesianProduct / "
     "BroadcastNestedLoopJoin of the corpus against itself."),
    ("doc_ngram_jaccard",
     "Exact Jaccard similarity join with prefix filtering: "
     "df-ordered prefixes -> prefix equi-join candidates -> full-set "
     "verify; hot shingles never enter the candidate join."),
    ("events_hop_renumber",
     "J2 hop renumbering: per-user running-sum window (partitioned) "
     "+ broadcast hop-target join. (The cross join is distinct users "
     "x the 3-row literal target dimension — config-sized.)"),
    ("doc_decontaminate",
     "Benchmark decontamination: the eval set's distinct n-grams "
     "BROADCAST against a map-side corpus explode — no corpus-sized "
     "shuffle; the only exchange is the per-doc count over hit rows."),
    ("doc_pack_sequences",
     "Sequence packing: distributed two-pass prefix sum — range "
     "exchange + in-partition cumsum window (partitioned, never "
     "global) + broadcast triangular offset join over per-partition "
     "totals; integer-DIV window arithmetic on top."),
    ("doc_pii_redact",
     "PII redaction: a pure map — chained regexp_count/"
     "regexp_replace built-ins fused over the scan projection; NO "
     "exchange and no Python anywhere in the plan."),
    ("doc_quality_model",
     "Distilled quality-model inference: the linear head's integer "
     "weights are LITERALS in one whole-stage-codegen projection "
     "(no model join, no UDF); the only exchange is the final tiny "
     "(source, bucket) aggregate."),
    ("events_funnel",
     "Strict-sequence funnel: stage-type filter pushed to the scan, "
     "ONE hash exchange by user, stacked min(CASE) windows + the "
     "per-user reduce behind it (stage k references stage k-1 as a "
     "per-user-constant column — projections, not passes)."),
    ("doc_split_assign",
     "Train/val/test assignment: pure map-side projection (cumulative "
     "md5 basis-point thresholds); the only exchange is the tiny "
     "(split, lang) audit aggregate."),
    ("doc_inverted_index",
     "Posting-list build, skew-guarded: document-frequency counts "
     "shuffle first (never lists); the cold-term set broadcasts into "
     "the posting aggregation, so every collect_list buffer is "
     "bounded by max_df by construction; hot terms surface as "
     "null-postings rows."),
    ("doc_keywords",
     "Integer-TF-IDF keywords: frequency dim joined by term "
     "(AQE-broadcast at this vocabulary), ONE exchange by doc for "
     "the bounded top-k window; no float idf anywhere."),
    ("events_rate_outliers",
     "Rate anomaly composition: one corpus-wide (type, hour) count; "
     "the median-per-type dimension comes from the domain-bounded "
     "histogram window and broadcast-joins back."),
    ("doc_temperature_mix",
     "Temperature-2 mixing: the rates side is a column-pruned count "
     "aggregate over thousands-at-most strata, re-broadcast against "
     "the corpus; the keep decision is the map-side md5 basis-point "
     "filter. The corpus is never shuffled — its only exchange is "
     "the final per-lang audit aggregate."),
    ("doc_length_stats",
     "Exact percentile telemetry: ONE corpus-wide exchange (the "
     "partial+final groupBy(lang, n_words) histogram); the "
     "cumulative-sum window and nearest-rank aggregate run over the "
     "domain-bounded histogram frame. No sort ever touches the "
     "corpus relation."),
    ("events_heavy_hitters",
     "Exact heavy hitters: per-partition bounded-memory Misra-Gries "
     "candidate pass (mapInPandas over the single key column — the "
     "ONLY exchange it feeds is <= 2k candidate keys per partition), "
     "then a BROADCAST semi-join exact recount and integer threshold. "
     "The distinct-key domain never crosses the wire."),
    ("doc_span_dedup",
     "Corpus-level exact span dedup: map-side chunking (no per-word "
     "explode), owner election as a PARTIAL-aggregable min(struct) "
     "grouped on the md5(chunk) digest — hot chunks collapse to one "
     "row per map task before the exchange, where a window over the "
     "chunk key would pin them to a single task; occurrence join on "
     "the digest (AQE-skew-splittable), reassembly keyed by doc id."),
    ("doc_boilerplate",
     "Corpus-frequency boilerplate: gram stream exchanged as md5 "
     "hashes only, partial+final distinct-doc counting, recurring "
     "grams broadcast back against the map-side re-explode."),
    ("doc_bpe_pairs",
     "BPE pair statistics: distinct-word weighted frame (ONE word "
     "exchange), map-side adjacent-pair explode, partial+final "
     "weighted count, bounded top-k via TakeOrderedAndProject."),
    ("doc_vocab_coverage",
     "Vocabulary OOV coverage: top-K vocab built with one word-count "
     "exchange then BROADCAST; the corpus side is a map-side explode "
     "+ broadcast left-semi probe; the only corpus-keyed exchange is "
     "the per-source integer aggregate."),
    ("doc_epoch_shuffle",
     "Epoch-shuffle pin query: TakeOrderedAndProject — per-partition "
     "partial top-k on the md5 epoch key, never a global sort. The "
     "operator itself (sampling.epoch_shuffle) plans ONE "
     "RangePartitioning exchange + in-partition sort; "
     "tests/test_sampling.py pins that shape and partition-order == "
     "global-order."),
    ("doc_winnow_sketch",
     "Winnowing fingerprint sketch: the ENTIRE sketch — k-gram "
     "hashing, tie-rightmost window minima on the packed integer "
     "key, distinct + stats — is one map-side array projection over "
     "the scan. No explode, no window partition, and the only "
     "exchange in the plan is the final orderBy of this pin query; "
     "a production sketch job has none."),
    ("doc_winnow_pairs",
     "Winnow near-dup candidates: exploded (doc, fp) rows -> ONE "
     "fingerprint-keyed exchange into per-fp doc buckets (df-capped: "
     "boilerplate fingerprints dropped before expansion) -> map-side "
     "bounded pair expansion -> pair-keyed partial+final agg. No "
     "self-join of the corpus relation anywhere."),
    ("embedding_kmeans",
     "Integer Lloyd k-means (final-assignment query): centroids are "
     "LITERALS inside one whole-stage-codegen projection (no "
     "centroid join), so assignment is map-side; each Lloyd "
     "iteration behind it is the same projection plus one "
     "k x (dim+1)-long partial+final agg. The pin plan shows the "
     "literal-argmin projection and the tiny final aggregate."),
    ("doc_vocab_growth",
     "Heaps-law growth: distributed two-pass prefix sum (range "
     "exchange + in-partition window + broadcast triangular offsets) "
     "-> posexplode -> ONE word-keyed min agg -> a single "
     "conditional-sum row unpivoted with stack; the corpus is "
     "exchanged once, the curve never is."),
    ("events_transitions",
     "Event-transition matrix: ONE user-keyed hash exchange for the "
     "partitioned lag window (bounded per-user streams), then the "
     "|types|^2-bounded partial+final agg with exact "
     "count_distinct(user)."),
    ("doc_semdedup",
     "SemDeDup: literal-centroid k-means assignment feeds a PERSISTED "
     "member frame (InMemoryRelation on both self-join sides — the "
     "in-cell integer-dot pair join executes once); pair+dup counts "
     "come from ONE aggregation (countDistinct(vb) is the dup count), "
     "then a k-row left join. The only fact exchange co-locates "
     "cells."),
    ("doc_bloom_decontaminate",
     "Bloom decontamination: the m/32-word filter is a partial+final "
     "bit_or agg over the benchmark side; the corpus probe is two "
     "BroadcastHashJoins on word_idx plus one broadcast gram probe — "
     "all map-side — and the only corpus-keyed exchange is the "
     "per-doc partial+final count."),
    ("ann_pq_top10",
     "PQ/ADC search: codes and ADC lookups are LITERAL expressions "
     "inside one whole-stage-codegen projection over the scan "
     "(codebooks + query distance table folded in driver-side), then "
     "TakeOrderedAndProject(50) -> the 50-row shortlist BROADCAST "
     "against a second scan for the exact integer re-rank -> "
     "TakeOrdered(10). No shuffle anywhere; the re-fetch scan is "
     "acceptable at bench scale — production keeps vectors "
     "vec_id-bucketed so the 50 fetches are point reads, not a "
     "second pass (pq.py docstring)."),
    ("doc_dsir_scores",
     "DSIR: both bucket-count frames aggregate to <= B rows and "
     "BROADCAST; the word stream joins the score dim map-side, so "
     "the plan's only fact exchanges are the per-doc partial+final "
     "sum and the final top-20 TakeOrderedAndProject."),
    ("embedding_knn_join",
     "kNN join: the exploded-bucket frame is persisted "
     "(InMemoryRelation on both self-join sides -> the pandas-UDF "
     "signature stage runs once), ONE bucket-keyed exchange makes "
     "the candidate pairs, and the per-query rank is a qid-keyed "
     "window behind two vector fetch joins. Pair volume is O(n*L), "
     "never O(n^2)."),
    ("events_sliding_rates",
     "Sliding event-time windows: window('2 days','1 day') plans as "
     "a map-side 2-instance expansion (Expand) + partial+final hash "
     "agg — the exchange carries aggregated (window, type) groups, "
     "not 2x the events."),
]


def main(sf_dir: str = "/root/testdata/sf0.01"):
    spark = get_spark(app="plans")
    qs = em.queries()
    out = ["# PLANS — physical-plan evidence (auto-generated by "
           "tools/dump_plans.py)\n"]
    out.append(
        "Each section is `df.explain('formatted')` of a headline query "
        f"at `{sf_dir}`. What to look for: `PushedFilters` on scans, "
        "`ReadSchema` pruned to used columns, `BroadcastHashJoin` for "
        "dimension lookups, exactly one `MapInArrow` for the parse "
        "stage (and no `BatchEvalPython` — no per-row Python anywhere), "
        "`WholeStageCodegen` spans around relational operators, and "
        "AQE nodes (`AdaptiveSparkPlan`).\n")
    for name, blurb in SHOWN:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n{blurb}\n\n```\n{buf.getvalue()}```\n")
    # The bench's timed DAG itself (pipeline_parse_route_aggregate in
    # BENCH_r*.json) — not a queries() entry, so dumped directly from
    # bench.build_pipeline. AMPLIFY=1: amplification multiplies rows,
    # never the plan shape.
    os.environ.setdefault("SPARK_GRAFT_AMPLIFY", "1")
    import bench as benchmod  # noqa: E402
    aggs, _routed = benchmod.build_pipeline(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        aggs.explain("formatted")
    out.append(
        "\n## pipeline_parse_route_aggregate (bench.build_pipeline)\n\n"
        "The EXACT DataFrame the bench times (BENCH_r*.json "
        "headline): pruned parquet scan of the "
        "tokenized table -> ONE MapInArrow parse stage -> broadcast "
        "route join -> suppress filter -> "
        "partial+final severity-histogram aggregation. No "
        "BatchEvalPython, no extra exchanges.\n\n"
        f"```\n{buf.getvalue()}```\n")
    print("".join(out))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
