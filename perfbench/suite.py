"""The pipeline_suite workload's fixed inputs: the query subset, the
name → family map, and the DuckDB oracle counts."""
import json
import os

# graft.Bench's untimed warmup set
WARMUPS = ["q1_agg", "trim_fields", "rolling_features", "dedup_exact",
           "text_token_count", "events_stream_dedup"]

# One cold pass over all 121 queries takes about 96 s at sf0.001 on four
# cores, more than a run may take, so a run times this fixed subset of
# 30. Every family is represented, with its costliest operator kind
# where one pass allows it (MinHash dedup, a stateful stream), and as in
# the full suite about two thirds of the queries take under half a
# second cold, so the median lies inside the dense group of short
# queries rather than at a gap between groups, where it would jump from
# run to run.
# ixf_roundtrip is left out of every run: it reads a reference fixture
# that is not part of the repository.
SUBSET = [
    "dedup_minhash", "paragraph_dedup", "winnow_fingerprint",
    "substr_dedup",
    "similarity_lsh", "similarity_bruteforce",
    "text_quality", "pii_scrub", "c4_rules", "gopher_rules", "html_strip",
    "text_normalize", "secret_scan", "token_pack", "text_repetition",
    "psi_drift",
    "events_stream_agg",
    "project_fields", "copy_roundtrip", "sink_bisect", "null_if",
    "transform_hex", "transform_set_enum", "date_format_parse",
    "cast_engine_mysql", "agg_minmax", "profile_stats",
    "asof_join", "event_funnel", "split_assign",
]

FAMILIES = {
    "dedup": """dedup_exact dedup_incremental dedup_components dedup_minhash
        dedup_simhash dedup_ngram dedup_embedding dedup_minhash_components
        paragraph_dedup substr_dedup semantic_dedup decontaminate
        decontaminate_fuzzy decontaminate_containment winnow_fingerprint
        dup_spans""",
    "similarity": """similarity_bruteforce hard_negatives similarity_lsh
        similarity_pq similarity_ivf bm25_topk semantic_cluster kmeans_fit
        embedding_centroids embed_quantize""",
    "text": """text_quality text_langid text_token_count text_fingerprint
        text_repetition html_strip gopher_rules text_scripts secret_scan
        c4_rules unigram_surprisal bigram_surprisal collocations_pmi
        cms_heavy_hitters top_terms vocab_coverage token_rarity
        text_normalize bpe_pairs pii_scrub token_pack text_chunks
        pack_efficiency quality_classifier quality_filter classifier_auc""",
    "drift": """psi_drift ks_drift source_divergence embedding_drift
        value_outliers split_leakage domain_mix source_overlap""",
    "streaming": """events_stream_agg events_stream_dedup
        events_stream_funnel events_stream_psi events_stream_join
        stream_neardup stream_cms_topk""",
    "loadpath": """project_fields null_if trim_fields date_format_parse
        transform_zero_dates transform_date_no_sep transform_time_no_sep
        transform_tinyint_bool transform_int_to_ip transform_set_enum
        transform_hex transform_unix_ts cast_engine_mysql copy_roundtrip
        sink_bisect sink_typed_roundtrip csv_roundtrip csv_guess
        csv_skip_header dbf_roundtrip migrate_stats jdbc_migrate
        jdbc_predicates_read ixf_roundtrip dsl_csv_districts fixed_width
        multi_file_glob partition_ranges citus_backfill_join except_regress
        preflight_validate profile_stats profile_quantiles agg_minmax
        agg_rowcounts upsert_latest""",
}
FAMILY_OF = {q: fam for fam, names in FAMILIES.items() for q in names.split()}
FAMILY_NAMES = list(FAMILIES) + ["other"]


def family(name):
    return FAMILY_OF.get(name, "other")


# tools/compare_oracle.py's view registration
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_counts(data_dir, oracle_sql, names):
    """SELECT count(*) over each query's oracle SQL, in DuckDB."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, t + ".parquet").replace("'", "''")
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
    out = {}
    for n in names:
        if n in oracle_sql:
            out[n] = con.execute(
                "SELECT count(*) FROM (%s) q" % oracle_sql[n]).fetchone()[0]
    con.close()
    return out


def cached_oracle_counts(data_dir, oracle_json, cache):
    """Oracle counts of every query that has an oracle, computed once
    per build."""
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    with open(oracle_json) as f:
        sql = json.load(f)
    counts = oracle_counts(data_dir, sql, sorted(sql))
    with open(cache, "w") as f:
        json.dump(counts, f)
    return counts
