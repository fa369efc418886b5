#!/usr/bin/env bash
# Two-sided oracle gate for one query family: Verify + oracle_check.py over
# the queries whose names match REGEX, run twice — once as is, and once
# with -Dspark.sql.autoBroadcastJoinThreshold=-1 passed to the forked run
# (the JVM system property reaches its SparkConf), so every join on
# materialized state is checked on both sides of the broadcast threshold.
# Exits non-zero on any mismatch, Verify failure, or a REGEX that matches
# no query.
#
# Usage: scripts/gate_family.sh REGEX [sfDir]
#   sfDir defaults to $SPARK_GRAFT_SF_DIR; the dumps and logs go to
#   /tmp/gate_family.{default,noBroadcast}*.
#
# The loop family (the queries whose bodies call Components., Similarity.
# or NearDup.; rebuild it by the rule below when queries are added):
#
#   '^(q111_incremental_neardup|q148_triangle_count|q155_embed_outliers|q169_fuzzy_name_pairs|q195_knn_ivf_pq|q204_bfs_levels|q207_chi2_terms|q211_sssp_rounds|q218_entity_resolution|q223_minhash_dedup_e2e|q226_kcore|q228_chunk_overlap|q229_mmr_rerank|q230_label_propagation|q235_budget_apportion|q236_containment_pairs|q239_vocab_coverage|q285_local_clustering|q294_lsh_tuning_eval|q298_bipartite_check|q300_corpus_yield_funnel|q308_personalized_pagerank|q312_dedup_keep_best|q316_incremental_components|q321_matryoshka_eval|q325_knn_label_eval|q326_dbscan_grid|q333_source_overlap|q337_functional_cycles|q340_landmark_distances|q344_mutual_best_matching|q355_retrieval_eval|q356_ktruss|q362_modularity|q366_bpe_roundtrip|q367_jaro_winkler_pairs|q368_edit2_fuzzy_join|q369_hits_ranking|q372_scc_coloring|q373_rake_keywords|q376_pca_power|q37_dedup_simhash|q380_hash_walks|q386_betweenness|q38_knn_brute_cosine|q397_ahash_neardup|q398_semantic_dedup_pq|q39_knn_ivf|q404_sq8_knn|q409_nearest_centroid|q410_hard_negatives|q411_double_sweep_diameter|q417_draft_acceptance|q418_surprisal_spike|q422_label_medoids|q428_weighted_sample_aes|q429_kcenter_coreset|q432_cuped_adjustment|q433_luby_mis|q436_greedy_set_cover|q43_knn_lsh|q444_stream_incremental_neardup|q51_embed_neardup_lsh|q66_knn_topk_agg|q76_dedup_components|q88_semantic_dedup|q94_pagerank|q97_quantize_embeddings)$'
#
# (68 queries: a query entry `("qN_name", (s, d) => ...)` in
# src/main/scala/graft whose body, up to the next entry, matches
# `\b(Components|Similarity|NearDup)\.`.)
set -euo pipefail
if [ $# -lt 1 ]; then sed -n '2,/^set -euo/p' "$0" | sed '$d' | sed 's/^# \{0,1\}//'; exit 2; fi
REGEX="$1"
SF="${2:-${SPARK_GRAFT_SF_DIR:?give sfDir or set SPARK_GRAFT_SF_DIR}}"
OUT=/tmp/gate_family
cd "$(dirname "$0")/.."
status=0
for side in default noBroadcast; do
  out="$OUT.$side"
  rm -rf "$out"
  opts=()
  [ "$side" = default ] ||
    opts+=('set javaOptions += "-Dspark.sql.autoBroadcastJoinThreshold=-1"')
  echo "== $side: Verify ($SF -> $out)"
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}" \
    sbt -batch ${opts[@]+"${opts[@]}"} "runMain graft.Verify $SF $out $REGEX" \
    > "$out.verify.log" 2>&1 \
    || { echo "Verify FAILED:"; tail -20 "$out.verify.log"; status=1; continue; }
  if grep '\[verify\]' "$out.verify.log"; then status=1; fi
  echo "== $side: DuckDB compare"
  python3 scripts/oracle_check.py "$SF" "$out" "$REGEX" > "$out.oracle.log" \
    || status=1
  grep -v ': OK ' "$out.oracle.log" || true
  ok=$(grep -c ': OK ' "$out.oracle.log" || true)
  echo "$side: $ok OK"
  [ "$ok" -gt 0 ] || { echo "$side: REGEX matched no checked query"; status=1; }
done
exit $status
