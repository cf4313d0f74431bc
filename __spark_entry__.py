"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship near-duplicate pipeline at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 +
training-data-pipeline extras); each callable (spark, sf_dir) -> DF.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per SQL-expressible query
(sketch-based ops are rows-only by nature: DuckDB cannot reproduce
WangHash/Ertl-MLE/SuperMinHash decisions).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuda_selection_criteria_spark.functions import (
    doc_fingerprints,
    embedding_knn,
    embedding_lsh_candidates,
    exact_dup_groups,
    lang_id_scores,
    lang_predict,
    media_feature_sums,
    media_from_documents,
    ngram_jaccard_pairs,
    quality_scores,
    simhash_pairs,
    token_counts_bpe,
    source_profile,
    token_stats,
)
from cuda_selection_criteria_spark.functions import embedding_sim_pairs
from cuda_selection_criteria_spark.functions.gates import (
    ann_topk_upper_bound_gate,
    cascade_invariant_gate,
    ann_upper_bound_gate,
    cc_diff_gate,
    dup_pairs_jaccard_gate,
    embedding_sim_subset_gate,
    lsh_recall_gate,
    simhash_precision_gate,
    simhash_recall_gate,
    winnow_guarantee_gate,
    winnow_precision_gate,
)
from cuda_selection_criteria_spark.functions.ivf import embedding_ivf_topk
from cuda_selection_criteria_spark.functions.winnow import winnow_overlap_pairs
from cuda_selection_criteria_spark.operators import connected_components
from cuda_selection_criteria_spark.oracle import DedupConfig
from cuda_selection_criteria_spark.pipeline import dedup_pipeline


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )


def _dedup_cfg() -> DedupConfig:
    # documents rows are ~128 chars; k=16 keeps >= 100 shingles/doc
    # while exercising the exact reference cascade semantics.
    return DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-duplicate pairs over sf0.001 documents."""
    pages = _docs_as_pages(spark, "/root/testdata/sf0.001")
    return dedup_pipeline(pages, _dedup_cfg()).dup_pairs


# ---------------------------------------------------------------- queries

def _q_dup_pairs_smh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_pipeline(_docs_as_pages(spark, sf_dir), _dedup_cfg()).dup_pairs


def _q_dup_clusters_smh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # relabel components with their minimum URL: the pipeline's internal
    # cluster_id is the component's minimum surrogate id, a pure function
    # of content but an engine-internal number; the recorded query
    # output, (url, cluster_key), names each cluster by content the
    # oracle can compute. It partitions identically.
    clusters = dedup_pipeline(_docs_as_pages(spark, sf_dir), _dedup_cfg()).clusters
    keys = clusters.groupBy("cluster_id").agg(F.min("url").alias("cluster_key"))
    return clusters.join(keys, "cluster_id").select("url", "cluster_key")


def _q_dup_pairs_smh_m512(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reference bench config: m=512 signatures
    # (/root/reference/run_time_experiment.sh:10), the compute-bound
    # regime the reference's timing experiments measure.
    cfg = DedupConfig(tau=0.9, shingle_k=16, smh_m=512, hll_p=14)
    return dedup_pipeline(_docs_as_pages(spark, sf_dir), cfg).dup_pairs


def _q_dup_clusters_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SAME connected-components operator the smh flagship uses,
    # hash-gated: its input is the already-DuckDB-green exact n-gram
    # Jaccard edge set, so DuckDB can verify the clustering itself via a
    # recursive-CTE transitive closure.
    edges = ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=5, min_jaccard=0.5, max_df=100, key="gram"
    )
    comp = connected_components(edges, a_col="doc_a", b_col="doc_b")
    return comp.select(F.col("node").alias("doc_id"), "cluster_id")


def _q_dup_pairs_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # invariant VIOLATIONS of the smh flagship (expected: empty) — the
    # DuckDB-checkable containment gate for the sketch decisions; see
    # functions/gates.py.
    docs = _docs(spark, sf_dir)
    pairs = dedup_pipeline(_docs_as_pages(spark, sf_dir), _dedup_cfg()).dup_pairs
    return dup_pairs_jaccard_gate(docs, pairs, _dedup_cfg())


def _q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dup_groups(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # key="gram" for bit-exact DuckDB parity; the function's default is
    # key="hash" (8-byte shuffle keys — the scale path; both modes
    # pinned equal in tests/test_functions.py).
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=5, min_jaccard=0.5, max_df=100, key="gram"
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


def _q_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_profile(_docs(spark, sf_dir))


def _q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprints(_docs(spark, sf_dir))


def _q_lang_id_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id_scores(_docs(spark, sf_dir))


def _q_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_knn(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _q_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_lsh_candidates(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _q_embedding_sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-cosine near-dup pairs, exact contract (all pairs checked
    # via broadcast blocked matmul; sims rounded before thresholding) —
    # fully SQL-expressible, hash-gated against DuckDB.
    return embedding_sim_pairs(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _embeddings_with_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings table + one planted near-identical vector pair.

    The synthetic corpus has no near-identical vectors (max pair cosine
    ~0.5), so at the real dedup threshold (0.45+) the LSH path would
    emit nothing through 16-bit buckets and the subset gate would be
    vacuous. Two deterministic vectors at cosine ~0.9999 (identical
    hyperplane signs in every table by construction) make the lsh query
    emit at the REAL threshold instead of a lowered probe threshold
    (VERDICT r4 next-round #8). Plant ids sit far above corpus ids."""
    import math

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim = 64
    v1 = [math.sin(0.37 * i + 1.0) for i in range(dim)]
    v2 = [x * (1.0 + 0.0003 * ((i % 3) - 1)) for i, x in enumerate(v1)]
    planted = spark.createDataFrame(
        [(90_000_001, v1), (90_000_002, v2)], "vec_id long, embedding array<float>"
    )
    return emb.unionByName(planted)


def _q_embedding_sim_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 100TB path: hyperplane-LSH candidates -> exact cosine verify
    # on candidates only (O(candidates), no N^2). Emitted (pair, sim)
    # rows are a SUBSET of the exact result by construction — pinned by
    # embedding_sim_subset_gate below; recall pinned by lsh_recall_gate.
    # Runs at the REAL dedup threshold (0.45) against the planted-pair
    # corpus (see _embeddings_with_planted).
    return embedding_sim_pairs(
        _embeddings_with_planted(spark, sf_dir),
        min_sim=0.45,
        method="lsh",
    )


def _q_embedding_sim_subset_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # subset violations (expected empty): LSH-verified pairs not in the
    # exact pair set would be provable bucket/verify bugs. Same input
    # and min_sim as the lsh query so the checked set is the emitted
    # set — non-vacuous because the planted pair IS emitted at 0.45.
    return embedding_sim_subset_gate(
        _embeddings_with_planted(spark, sf_dir), min_sim=0.45
    )


def _q_lang_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_predict(_docs(spark, sf_dir))


def _q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(_docs(spark, sf_dir))


def _q_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts_bpe(_docs(spark, sf_dir))


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # media table derived deterministically from documents (payload =
    # UTF-8 text bytes, dims pure functions of doc_id) so the decode +
    # pooled-feature plumbing is hash-checkable against DuckDB.
    # ascii_only: ONLY this oracle-gated query restricts to the ASCII
    # subset (DuckDB's ord/substr is char-indexed, the decoder
    # byte-indexed); the operator itself ingests every document.
    return media_feature_sums(
        media_from_documents(_docs(spark, sf_dir), ascii_only=True)
    )


def _q_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_ivf_topk(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_overlap_pairs(_docs(spark, sf_dir), k=16, w=8, min_shared=3)


def _q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # suffix-array-substring dedup family (ExactSubstr semantics) as a
    # pure DataFrame plan: L-gram frequency + per-doc island merge —
    # no self-join anywhere. Fully SQL-expressible -> hash-gated.
    # key="gram" here for bit-exact DuckDB parity; the function's
    # default is key="hash" (8-byte group keys — the scale path; both
    # variants pinned equal in tests/test_substr.py).
    from cuda_selection_criteria_spark.functions.substr import duplicated_spans

    return duplicated_spans(_docs(spark, sf_dir), min_len=20, min_count=2, key="gram")


def _q_winnow_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # winnowing-guarantee violations (expected empty; oracle = empty
    # relation): substring-sharing pairs without a shared fingerprint.
    return winnow_guarantee_gate(_docs(spark, sf_dir), k=16, w=8)


def _q_embedding_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # brute-force cosine top-k baseline (rank by sim desc, id asc) —
    # fully SQL-expressible, hash-gated.
    return embedding_knn(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=5)


def _q_embedding_ivf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF approximate top-k (rows-only; rank-wise upper bound gated
    # below).
    return embedding_ivf_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=5
    )


def _q_ann_topk_bound_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rank-wise ANN upper-bound violations (expected empty): at every
    # rank r, IVF's r-th best sim <= exact r-th best (subset search).
    return ann_topk_upper_bound_gate(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=5
    )


def _q_ann_bound_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ANN upper-bound violations (expected empty): IVF top-1 cosine can
    # never exceed the exact brute-force top-1 (subset search).
    return ann_upper_bound_gate(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _q_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # custom stateful streaming operator (applyInPandasWithState):
    # star-pairing near-dup candidates over a document stream; drained
    # with availableNow. Genuinely non-SQL (sketches + state) ->
    # rows-only; tests pin CC-equality with the batch star pairing.
    import uuid

    from cuda_selection_criteria_spark.streaming import (
        run_available_now,
        streaming_band_candidates,
    )
    from cuda_selection_criteria_spark.streaming.windows import read_event_stream

    stream = read_event_stream(spark, f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    cands = streaming_band_candidates(stream, _dedup_cfg(), state_ttl_ms=None)
    out = run_available_now(cands, f"neardup_{uuid.uuid4().hex[:8]}")
    return out.dropDuplicates(["id_a", "id_b"])


def _hll_cfg(criterion: str) -> DedupConfig:
    # the reference's other two selection criteria (-c hll_a | hll_an,
    # /root/reference/src/selection.cpp:107-111,158-238): auxiliary
    # p=8 HLL union + statistical error bound instead of the SMH band
    # collision. Same flagship shingle/tau config; aux 256 B -> p=8 is
    # the reference default (selection.cpp:80, fixture *.hll_8).
    return DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14, criterion=criterion)


def _q_dup_pairs_hll_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cb_bucket_pairs (log-cardinality bucket equi-join, the Spark form
    # of the reference's sorted + prefix-break scan) -> hll_a aux
    # criterion -> HLL verify. Sketch decisions are non-SQL -> rows-only;
    # the containment gate below is the hash-green pin.
    # salt_target: the r5 flood guard is ON in the gated path (pair-set
    # preserving — tests/test_round5.py pins salted == unsalted; at
    # sf0.01 bucket loads sit far below the target so s=1 everywhere,
    # at 10^12 docs it spreads hot log-cardinality buckets over s^2
    # keys instead of one quadratic straggler)
    return dedup_pipeline(
        _docs_as_pages(spark, sf_dir), _hll_cfg("hll_a"), salt_target=4096
    ).dup_pairs


def _q_dup_pairs_hll_an(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_pipeline(
        _docs_as_pages(spark, sf_dir), _hll_cfg("hll_an"), salt_target=4096
    ).dup_pairs


def _q_dup_pairs_hll_a_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same empty-relation containment gate as the smh flagship, at the
    # hll_a criterion: emitted pairs must clear the exact-Jaccard
    # precision band, byte-identical docs must be emitted.
    cfg = _hll_cfg("hll_a")
    docs = _docs(spark, sf_dir)
    pairs = dedup_pipeline(_docs_as_pages(spark, sf_dir), cfg).dup_pairs
    return dup_pairs_jaccard_gate(docs, pairs, cfg)


def _q_dup_pairs_hll_an_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = _hll_cfg("hll_an")
    docs = _docs(spark, sf_dir)
    pairs = dedup_pipeline(_docs_as_pages(spark, sf_dir), cfg).dup_pairs
    return dup_pairs_jaccard_gate(docs, pairs, cfg)


def _q_dup_pairs_m512_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SAME containment gate applied at the reference's m=512 bench
    # config (run_time_experiment.sh:10) — the timing configuration is
    # correctness-gated too, not only the m=64 flagship.
    cfg = DedupConfig(tau=0.9, shingle_k=16, smh_m=512, hll_p=14)
    docs = _docs(spark, sf_dir)
    pairs = dedup_pipeline(_docs_as_pages(spark, sf_dir), cfg).dup_pairs
    return dup_pairs_jaccard_gate(docs, pairs, cfg)


def _q_winnow_precision_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # winnowing precision violations (expected empty): every emitted
    # winnow pair must share a real k-gram substring (fingerprints hash
    # concrete grams) — the precision complement of the guarantee gate.
    return winnow_precision_gate(_docs(spark, sf_dir), k=16, w=8, min_shared=3)


def _q_simhash_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash recall violations (expected empty; oracle = empty
    # relation): identical-token-multiset doc pairs MUST share a
    # Hamming-0 fingerprint, hence appear in simhash_pairs. Gives the
    # non-SQL simhash_pairs query a DuckDB-checkable hash gate.
    return simhash_recall_gate(_docs(spark, sf_dir), max_hamming=3)


def _q_simhash_precision_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash precision violations (expected empty): every emitted
    # simhash pair must share >= 1 whitespace token (disjoint token
    # sets -> independent fingerprints -> P(Hamming<=3) ~ 2.4e-15).
    # Pins the emit direction of simhash_pairs like winnow now has.
    return simhash_precision_gate(_docs(spark, sf_dir), max_hamming=3)


def _q_lsh_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hyperplane-LSH recall violations (expected empty): identical
    # non-zero embedding vectors share every table's bucket, so they
    # must land in the same connected component of the candidate graph
    # (component membership — robust to the flood-mode star pairing).
    return lsh_recall_gate(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _q_streaming_batch_cc_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming-vs-batch differential gate (expected empty): connected
    # components of the stateful streaming candidate stream must equal
    # the batch star pairing's (the invariant tests pin at small scale,
    # here hash-gated by the driver at sf0.01). Both generators are
    # non-SQL; their DIFF is exactly checkable — the
    # run_comparison_experiment.sh:36-53 discipline.
    import uuid

    from cuda_selection_criteria_spark.operators import sketch_pages
    from cuda_selection_criteria_spark.operators.candidates import candidate_pairs
    from cuda_selection_criteria_spark.streaming import (
        run_available_now,
        streaming_band_candidates,
    )
    from cuda_selection_criteria_spark.streaming.windows import read_event_stream

    cfg = _dedup_cfg()
    stream = read_event_stream(spark, f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    cands = streaming_band_candidates(stream, cfg, state_ttl_ms=None)
    # expect_single_batch: the CC-equality invariant requires the whole
    # input in ONE micro-batch (the stateful representative must be the
    # same bucket minimum batch star uses, and the CB prune must see
    # identical representative cardinalities). The file source drains
    # ReadAllAvailable here (no maxFilesPerTrigger); this makes the
    # assumption a checked error instead of a spurious gate firing.
    stream_pairs = run_available_now(
        cands, f"neardup_gate_{uuid.uuid4().hex[:8]}", expect_single_batch=True
    ).dropDuplicates(["id_a", "id_b"])
    # the diff compares node ids across stream and batch, so the batch
    # side passes through the id a stream assigns, xxhash64(url) (batch
    # ids live in another id space and the diff would fire everywhere)
    pages = _docs_as_pages(spark, sf_dir)
    sk = sketch_pages(pages.withColumn("url_id", F.xxhash64("url")), cfg)
    batch_pairs = candidate_pairs(sk, cfg, bucket_pairing="star")
    return cc_diff_gate(stream_pairs, batch_pairs)


def _q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            # TIMESTAMP_NTZ -> TIMESTAMP (session tz is pinned UTC) -> epoch
            F.col("w.start").cast("timestamp").cast("long").alias("w_start"),
            "event_type",
            "n_events",
            "n_users",
        )
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _q_word_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import word_repetition_scores

    return word_repetition_scores(_docs(spark, sf_dir))


def _q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import boilerplate_ngrams

    return boilerplate_ngrams(_docs(spark, sf_dir), k=5, top_n=50)


def _q_events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import sessionize

    return sessionize(_events(spark, sf_dir), gap_seconds=1800)


def _q_events_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import events_asof_clicks

    return events_asof_clicks(_events(spark, sf_dir))


def _q_user_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import key_skew_profile

    return key_skew_profile(_events(spark, sf_dir), "user_id", heavy_factor=2)


def _q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import event_type_stats

    return event_type_stats(_events(spark, sf_dir))


def _q_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import dedup_cascade

    return dedup_cascade(_docs(spark, sf_dir), k=5, min_jaccard=0.5, max_df=100)


def _q_dedup_cascade_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import cascade_summary

    return cascade_summary(_docs(spark, sf_dir), k=5, min_jaccard=0.5, max_df=100)


def _q_dedup_cascade_smh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the production tier-2: exact tier survivors flow into the
    # reference-parity SuperMinHash+LSH sketch pipeline instead of the
    # SQL-checkable ngram tier. Sketch decisions are rows-only; the
    # cascade contract itself is pinned hash-green by
    # cascade_smh_invariant_gate below.
    from cuda_selection_criteria_spark.functions import dedup_cascade

    return dedup_cascade(_docs(spark, sf_dir), tier2="smh", smh_config=_dedup_cfg())


def _q_cascade_smh_invariant_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import dedup_cascade

    docs = _docs(spark, sf_dir)
    verdicts = dedup_cascade(docs, tier2="smh", smh_config=_dedup_cfg())
    return cascade_invariant_gate(docs, verdicts)


def _q_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import (
        hash_bernoulli_sample,
        sample_key,
    )

    docs = _docs(spark, sf_dir)
    return hash_bernoulli_sample(docs, rate=0.05, seed="42").select(
        "doc_id", sample_key("42").alias("skey")
    )


def _q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), "lang", n_per_stratum=20, seed="42"
    )


def _q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tier 0 of the crawl cascade: canonicalize a deterministic
    # synthetic url column (input-hint page schema) — four variant
    # classes exercise fragment/case/port/www/tracking-param rules;
    # DuckDB mirrors every rule (functions/urltools.py).
    from cuda_selection_criteria_spark.functions.urltools import (
        synthetic_urls,
        with_canonical_url,
    )

    return with_canonical_url(synthetic_urls(_docs(spark, sf_dir))).select(
        "doc_id", "url", "canon_url"
    )


def _q_url_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cuda_selection_criteria_spark.functions.urltools import (
        synthetic_urls,
        url_dedup_groups,
    )

    return url_dedup_groups(
        synthetic_urls(_docs(spark, sf_dir)), order_col="doc_id"
    )


def _q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style line-frequency boilerplate removal over the corpus
    # re-chunked into 8-word lines (functions/linededup.py); at sf0.01
    # the near-dup groups share chunks so the filter genuinely bites.
    from cuda_selection_criteria_spark.functions.linededup import (
        line_dedup,
        rechunk_lines,
    )

    # pre-flatten any embedded newline (the corpus has none today, but
    # rechunk_lines joins chunks with '\n' and line_dedup re-splits on
    # it, while the oracle slices the word array directly — a
    # newline-bearing word would silently diverge the two engines, so
    # both sides neutralize it explicitly; oracle mirrors with
    # replace(..., chr(10), ' ').
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.regexp_replace(F.coalesce("text", F.lit("")), "\n", " ")
    )
    return line_dedup(rechunk_lines(docs, 8), min_df=2)


def _incremental_split(spark: SparkSession, sf_dir: str):
    docs = _docs(spark, sf_dir)
    return docs, docs.where(F.col("doc_id") % 2 == 0)


def _q_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental snapshot dedup, exact path: anti-join on the 24-byte
    # text key (functions/bloom.py); ref = even doc_ids.
    from cuda_selection_criteria_spark.functions.bloom import (
        dedup_against_reference,
    )

    new, ref = _incremental_split(spark, sf_dir)
    return dedup_against_reference(new, ref, method="exact").select("doc_id")


def _q_incremental_new_docs_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scale path: distributed Bloom bitmap + broadcast membership —
    # the reference corpus never rides a shuffle. Rows-only (bit
    # decisions not ANSI-SQL-expressible); pinned by bloom_subset_gate.
    from cuda_selection_criteria_spark.functions.bloom import (
        dedup_against_reference,
    )

    new, ref = _incremental_split(spark, sf_dir)
    return dedup_against_reference(new, ref, method="bloom").select("doc_id")


def _q_dedup_cascade_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the FULL industrial pipeline shape: URL tier (canonical-URL
    # groups) -> exact tier (over URL keepers) -> ngram near-dup tier
    # (over exact keepers); per-doc verdicts with <= 3-hop final-keeper
    # chains resolved by two fixed chase joins (functions/cascade.py).
    from cuda_selection_criteria_spark.functions import dedup_cascade
    from cuda_selection_criteria_spark.functions.urltools import synthetic_urls

    return dedup_cascade(synthetic_urls(_docs(spark, sf_dir)), url_col="url")


def _q_dedup_cascade_url_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-tier removal rollup of the url -> exact -> ngram cascade —
    # the run metric a pipeline logs; also pins the cascade_summary
    # url_col passthrough end-to-end.
    from cuda_selection_criteria_spark.functions import cascade_summary
    from cuda_selection_criteria_spark.functions.urltools import synthetic_urls

    return cascade_summary(synthetic_urls(_docs(spark, sf_dir)), url_col="url")


def _q_bloom_subset_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # containment contract (expected EMPTY): bloom-kept ⊆ exact-kept —
    # a violation is a Bloom false negative, which cannot exist.
    from cuda_selection_criteria_spark.functions.bloom import bloom_subset_gate

    new, ref = _incremental_split(spark, sf_dir)
    return bloom_subset_gate(new, ref)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dup_pairs_smh": _q_dup_pairs_smh,
        "dup_clusters_smh": _q_dup_clusters_smh,
        "dup_clusters_ngram": _q_dup_clusters_ngram,
        "dup_pairs_jaccard_gate": _q_dup_pairs_gate,
        "dup_pairs_smh_m512": _q_dup_pairs_smh_m512,
        "dup_pairs_hll_a": _q_dup_pairs_hll_a,
        "dup_pairs_hll_an": _q_dup_pairs_hll_an,
        "dup_pairs_hll_a_jaccard_gate": _q_dup_pairs_hll_a_gate,
        "dup_pairs_hll_an_jaccard_gate": _q_dup_pairs_hll_an_gate,
        "exact_dup_groups": _q_exact_dup_groups,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "token_stats": _q_token_stats,
        "source_profile": _q_source_profile,
        "doc_fingerprints": _q_doc_fingerprints,
        "lang_id_scores": _q_lang_id_scores,
        "embedding_knn": _q_embedding_knn,
        "embedding_lsh_candidates": _q_embedding_lsh,
        "embedding_sim_pairs": _q_embedding_sim_pairs,
        "embedding_sim_pairs_lsh": _q_embedding_sim_pairs_lsh,
        "embedding_sim_subset_gate": _q_embedding_sim_subset_gate,
        "events_windowed": _q_events_windowed,
        "streaming_neardup_candidates": _q_streaming_neardup,
        "lang_predict": _q_lang_predict,
        "quality_scores": _q_quality_scores,
        "token_counts_bpe": _q_token_counts_bpe,
        "simhash_pairs": _q_simhash_pairs,
        "media_features": _q_media_features,
        "winnow_overlap_pairs": _q_winnow_pairs,
        "winnow_guarantee_gate": _q_winnow_gate,
        "duplicated_spans": _q_duplicated_spans,
        "embedding_ivf_topk": _q_embedding_ivf,
        "embedding_knn_top5": _q_embedding_knn_top5,
        "embedding_ivf_top5": _q_embedding_ivf_top5,
        "ann_topk_upper_bound_gate": _q_ann_topk_bound_gate,
        "ann_upper_bound_gate": _q_ann_bound_gate,
        "simhash_recall_gate": _q_simhash_recall_gate,
        "simhash_precision_gate": _q_simhash_precision_gate,
        "lsh_recall_gate": _q_lsh_recall_gate,
        "streaming_batch_cc_gate": _q_streaming_batch_cc_gate,
        "winnow_precision_gate": _q_winnow_precision_gate,
        "dup_pairs_m512_jaccard_gate": _q_dup_pairs_m512_gate,
        "word_repetition_scores": _q_word_repetition,
        "boilerplate_ngrams": _q_boilerplate_ngrams,
        "events_sessionized": _q_events_sessionized,
        "events_asof_clicks": _q_events_asof_clicks,
        "user_skew_profile": _q_user_skew_profile,
        "event_type_stats": _q_event_type_stats,
        "dedup_cascade": _q_dedup_cascade,
        "dedup_cascade_summary": _q_dedup_cascade_summary,
        "sample_bernoulli": _q_sample_bernoulli,
        "sample_stratified": _q_sample_stratified,
        "dedup_cascade_smh": _q_dedup_cascade_smh,
        "cascade_smh_invariant_gate": _q_cascade_smh_invariant_gate,
        "url_canonical": _q_url_canonical,
        "url_dedup_groups": _q_url_dedup_groups,
        "line_dedup_docs": _q_line_dedup_docs,
        "incremental_new_docs": _q_incremental_new_docs,
        "incremental_new_docs_bloom": _q_incremental_new_docs_bloom,
        "bloom_subset_gate": _q_bloom_subset_gate,
        "dedup_cascade_url": _q_dedup_cascade_url,
        "dedup_cascade_url_summary": _q_dedup_cascade_url_summary,
    }


# shared CTE chain: exact k=5 n-gram Jaccard pairs (max_df=100 cap),
# reused by the pair query, the connected-components oracle, and (over
# the exact-tier survivor set) the cascade oracle.
# DuckDB mirror of functions/urltools.py: synthetic url derivation +
# every canonicalization rule, applied in the same order. Distinct
# alias names per step (head0/head1/head2) — DuckDB permits lateral
# alias references, so re-using `head` inside its own SELECT would be
# ambiguous.
_URL_SYNTH_CTE = r"""
            u0 AS (
              SELECT doc_id,
                CASE CAST((doc_id - doc_id % 40) / 40 AS BIGINT) % 4
                  WHEN 0 THEN 'https://WWW.CC-Archive.org/p/' || CAST(doc_id % 40 AS VARCHAR) || '/'
                  WHEN 1 THEN 'https://cc-archive.org/p/' || CAST(doc_id % 40 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
                  WHEN 2 THEN 'https://cc-archive.org:443/p/' || CAST(doc_id % 40 AS VARCHAR) || '#frag'
                  ELSE 'https://cc-archive.org/p/' || CAST(doc_id % 40 AS VARCHAR) || '?id=' || CAST(doc_id % 40 AS VARCHAR) || '&utm_medium=email'
                END AS url
              FROM documents
            )
"""

_URL_CANON_CTES = r"""
            u1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u FROM u0),
            u2 AS (
              SELECT doc_id, url, u,
                     lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*', 0)) AS head0,
                     substring(u, length(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*', 0)) + 1) AS rest
              FROM u1
            ),
            u3 AS (
              SELECT doc_id, url, u, rest,
                CASE WHEN starts_with(head0, 'http://') AND ends_with(head0, ':80') THEN left(head0, length(head0) - 3)
                     WHEN starts_with(head0, 'https://') AND ends_with(head0, ':443') THEN left(head0, length(head0) - 4)
                     ELSE head0 END AS head1
              FROM u2
            ),
            u4 AS (
              SELECT doc_id, url, u, rest,
                CASE WHEN starts_with(head1, 'http://www.') THEN 'http://' || substring(head1, 12)
                     WHEN starts_with(head1, 'https://www.') THEN 'https://' || substring(head1, 13)
                     ELSE head1 END AS head2
              FROM u3
            ),
            u5 AS (
              SELECT doc_id, url,
                CASE WHEN length(head2) > 0 THEN head2 || rest ELSE u END AS r0
              FROM u4
            ),
            u6 AS (
              SELECT doc_id, url,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(r0, '&(utm_[a-zA-Z0-9_]*|fbclid|gclid|ref)=[^&#]*', '', 'g'),
                      '\?(utm_[a-zA-Z0-9_]*|fbclid|gclid|ref)=[^&#]*&', '?', 'g'),
                    '\?(utm_[a-zA-Z0-9_]*|fbclid|gclid|ref)=[^&#]*$', '', 'g'),
                  '[?&]+$', '', 'g') AS r1
              FROM u5
            ),
            canon AS (
              SELECT doc_id, url,
                CASE WHEN instr(r1, '?') = 0 THEN regexp_replace(r1, '/+$', '') ELSE r1 END AS canon_url
              FROM u6
            )
"""

# full chain for the driver oracles; tests reuse _URL_CANON_CTES over
# their own u0 battery relation (tests/test_webtext_ops.py).
_URL_CTES = _URL_SYNTH_CTE + ",\n" + _URL_CANON_CTES


def _url_cascade_ctes() -> str:
    """CTE chain for the url -> exact -> ngram cascade, ending in
    ``final(doc_id, removed_by, keeper_id, final_keeper_id)`` —
    shared by the verdict and summary oracles. Mirrors
    ``functions/cascade.py`` hop-for-hop: tier-0 canonical-URL window
    grouping, exact-text window grouping over URL keepers, recursive
    transitive closure over the n-gram edge set, then the exact-chase
    and ngram-chase keeper resolution."""
    return f"""{_URL_CTES},
            ukeep AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY canon_url) AS u_keeper
              FROM canon
            ),
            usurv AS (
              SELECT d.* FROM documents d
              JOIN ukeep ON d.doc_id = ukeep.doc_id
              WHERE ukeep.doc_id = ukeep.u_keeper
            ),
            ur AS (SELECT doc_id, u_keeper FROM ukeep WHERE doc_id != u_keeper),
            ex AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY text) AS exact_keeper
              FROM usurv
            ),
            surv AS (
              SELECT d.* FROM usurv d
              JOIN ex ON d.doc_id = ex.doc_id
              WHERE ex.doc_id = ex.exact_keeper
            ),
            {_ngram_ctes("surv")},
            sym AS (
              SELECT doc_a AS a, doc_b AS b FROM njp
              UNION ALL
              SELECT doc_b AS a, doc_a AS b FROM njp
            ),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              WHERE s.b != r.a
            ),
            ngrm AS (
              SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cl
              FROM reach GROUP BY a
            ),
            nr AS (SELECT doc_id, cl FROM ngrm WHERE doc_id != cl),
            verdict AS (
              SELECT ex.doc_id,
                     CASE WHEN ex.doc_id != ex.exact_keeper THEN 'exact'
                          WHEN nr.doc_id IS NOT NULL THEN 'ngram'
                          ELSE 'none' END AS removed_by,
                     CASE WHEN ex.doc_id != ex.exact_keeper
                               THEN ex.exact_keeper
                          WHEN nr.doc_id IS NOT NULL THEN nr.cl
                          ELSE ex.doc_id END AS keeper_id
              FROM ex LEFT JOIN nr ON ex.doc_id = nr.doc_id
              UNION ALL
              SELECT ur.doc_id, 'url' AS removed_by, ur.u_keeper AS keeper_id
              FROM ur
            ),
            chased AS (
              SELECT v.doc_id, v.removed_by, v.keeper_id,
                     coalesce(e2.exact_keeper, v.keeper_id) AS keeper_mid
              FROM verdict v
              LEFT JOIN (
                SELECT doc_id, exact_keeper FROM ex
                WHERE doc_id != exact_keeper
              ) e2 ON v.keeper_id = e2.doc_id
            ),
            final AS (
              SELECT c.doc_id, c.removed_by, c.keeper_id,
                     coalesce(nr2.cl, c.keeper_mid) AS final_keeper_id
              FROM chased c LEFT JOIN nr nr2 ON c.keeper_mid = nr2.doc_id
            )
"""


def _ngram_ctes(src: str = "documents") -> str:
    return f"""
            sh0 AS (
              SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS s
              FROM {src} d, LATERAL unnest(range(1, greatest(length(d.text) - 3, 1))) t(i)
            ),
            rare AS (
              SELECT s FROM sh0 GROUP BY s
              HAVING count(*) <= 100
            ),
            sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (s)),
            cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_n
              FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            njp AS (
              SELECT doc_a, doc_b, inter_n,
                     ca.n + cb.n - inter_n AS union_n,
                     round(CAST(inter_n AS DOUBLE) / (ca.n + cb.n - inter_n), 6) AS jaccard
              FROM inter
              JOIN cnt ca ON doc_a = ca.doc_id
              JOIN cnt cb ON doc_b = cb.doc_id
              WHERE round(CAST(inter_n AS DOUBLE) / (ca.n + cb.n - inter_n), 6) >= 0.5
            )"""


_NGRAM_CTES = _ngram_ctes()


def _sampling_rate_threshold(rate: float) -> str:
    from cuda_selection_criteria_spark.functions import rate_threshold

    return rate_threshold(rate)


def oracle_sql() -> dict[str, str]:
    tokens = (
        "CASE WHEN length(text) = 0 THEN 0 "
        "ELSE length(text) - length(replace(text, ' ', '')) + 1 END"
    )
    stop_words = ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")
    stop_expr = " + ".join(
        f"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {w} ', ''))) / {len(w) + 2}"
        for w in stop_words
    )
    return {
        "exact_dup_groups": """
            SELECT min(doc_id) AS canonical_id, count(*) AS n_docs
            FROM documents GROUP BY text HAVING count(*) > 1
        """,
        "ngram_jaccard_pairs": f"""
            WITH {_NGRAM_CTES}
            SELECT doc_a, doc_b, inter_n, union_n, jaccard FROM njp
        """,
        # connected components over the same (already hash-verified)
        # exact n-gram edge set: transitive closure via recursive CTE,
        # cluster_id = component minimum — verifies the Spark
        # large-star/small-star operator the smh flagship also uses.
        "dup_clusters_ngram": f"""
            WITH RECURSIVE {_NGRAM_CTES},
            sym AS (
              SELECT doc_a AS a, doc_b AS b FROM njp
              UNION ALL
              SELECT doc_b AS a, doc_a AS b FROM njp
            ),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              WHERE s.b != r.a
            )
            SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cluster_id
            FROM reach GROUP BY a
        """,
        # containment gate for the smh flagship: the Spark side emits
        # invariant VIOLATIONS (precision band + exact-duplicate
        # recall, functions/gates.py); the oracle is the empty relation
        # — any emitted row is a provable mistake and fails the hash.
        "dup_pairs_jaccard_gate": """
            SELECT CAST(NULL AS VARCHAR) AS url_a,
                   CAST(NULL AS VARCHAR) AS url_b,
                   CAST(NULL AS VARCHAR) AS kind,
                   CAST(NULL AS BIGINT) AS exact_jaccard_x1e6
            WHERE FALSE
        """,
        # CAST the sums: DuckDB sum() yields HUGEINT (canonicalized to
        # float64) while Spark yields bigint — values equal, hash not.
        "token_stats": f"""
            SELECT lang, count(*) AS n_docs,
                   CAST(sum({tokens}) AS BIGINT) AS total_tokens,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   min(length(text)) AS min_chars,
                   max(length(text)) AS max_chars
            FROM documents GROUP BY lang
        """,
        "source_profile": """
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT lang) AS n_langs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY source
        """,
        "doc_fingerprints": "SELECT doc_id, md5(text) AS fp FROM documents",
        "lang_id_scores": f"""
            SELECT doc_id,
                   {tokens} AS n_tokens,
                   CAST(floor({stop_expr}) AS BIGINT) AS stopword_hits,
                   CASE WHEN {tokens} > 0
                        THEN CAST(floor(100.0 * (length(text) - ({tokens}) + 1) / ({tokens})) AS BIGINT)
                        ELSE 0 END AS mean_token_len_x100,
                   CAST(length(text) = length(lower(text)) AS INT) AS is_lowercase
            FROM documents
        """,
        "embedding_knn": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
            ),
            p AS (
              SELECT a.vec_id, b.vec_id AS neighbor_id,
                     round(list_cosine_similarity(a.v, b.v), 4) AS sim
              FROM e a, e b WHERE a.vec_id != b.vec_id
            )
            SELECT vec_id, neighbor_id, sim FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS rn
              FROM p
            ) WHERE rn = 1
        """,
        "embedding_knn_top5": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
            ),
            p AS (
              SELECT a.vec_id, b.vec_id AS neighbor_id,
                     round(list_cosine_similarity(a.v, b.v), 4) AS sim
              FROM e a, e b WHERE a.vec_id != b.vec_id
            )
            SELECT vec_id, neighbor_id, sim, rn AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS rn
              FROM p
            ) WHERE rn <= 5
        """,
        "ann_topk_upper_bound_gate": """
            SELECT CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS BIGINT) AS rank,
                   CAST(NULL AS BIGINT) AS ivf_sim_x1e6,
                   CAST(NULL AS BIGINT) AS exact_sim_x1e6
            WHERE FALSE
        """,
        "embedding_sim_pairs": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.45
        """,
        "embedding_sim_subset_gate": """
            SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
            WHERE FALSE
        """,
        "events_windowed": """
            SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS w_start,
                   event_type, count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "lang_predict": _lang_predict_sql(),
        "token_counts_bpe": f"""
            SELECT doc_id,
                   {tokens} AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_ish_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS alpha_tokens,
                   CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS digit_tokens
            FROM documents
        """,
        "quality_scores": f"""
            SELECT doc_id,
                   length(text) AS n_chars_m,
                   {tokens} AS n_tokens,
                   CASE WHEN {tokens} > 0
                        THEN CAST(floor(1000 * CAST(floor({stop_expr}) AS BIGINT) / ({tokens})) AS BIGINT)
                        ELSE 0 END AS stopword_ratio_x1000,
                   CASE WHEN length(text) > 0
                        THEN CAST(floor(1000 * (length(text) - length(replace(text, ' ', ''))) / length(text)) AS BIGINT)
                        ELSE 0 END AS space_ratio_x1000,
                   CAST(length(text) >= 50 AND {tokens} >= 10 AS INT) AS passes_length_gate
            FROM documents
        """,
        # media table = pure function of documents (media_from_documents):
        # payload bytes are the UTF-8 text, plane[i,j] = payload[(i*131 +
        # j*31) % len], dims from doc_id. feat_sum[d] = sum of plane
        # bytes at flat index == d (mod 16). The table definition
        # restricts to NON-EMPTY ASCII docs (strlen == length) on BOTH
        # sides: ord(substr()) indexes characters while the decoder
        # indexes bytes — they only agree on ASCII — and % n is
        # undefined at n=0.
        "media_features": """
            WITH m AS (
              SELECT doc_id AS media_id, text,
                     4 + (doc_id % 13) AS w, 4 + (doc_id % 11) AS h,
                     length(text) AS n
              FROM documents
              WHERE length(text) > 0 AND strlen(text) = length(text)
            ),
            cells AS (
              SELECT media_id,
                     CAST((i * w + j) % 16 AS INT) AS dim,
                     ord(substr(text, CAST((i * 131 + j * 31) % n + 1 AS INT), 1)) AS v
              FROM m,
              LATERAL unnest(range(0, h)) ti(i),
              LATERAL unnest(range(0, w)) tj(j)
            )
            SELECT media_id, dim, CAST(sum(v) AS BIGINT) AS feat_sum
            FROM cells GROUP BY media_id, dim
        """,
        # suffix-array-substring dedup: same L-gram frequency + island
        # merge, window-function form
        "duplicated_spans": """
            WITH g AS (
              SELECT doc_id, CAST(i AS BIGINT) AS pos,
                     substr(text, CAST(i AS INT), 20) AS g
              FROM documents d,
              LATERAL unnest(range(1, greatest(length(d.text) - 18, 1))) t(i)
            ),
            hot AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
            cov AS (SELECT doc_id, pos FROM g JOIN hot USING (g)),
            isl AS (
              SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                               OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 20
                          THEN 1 ELSE 0 END AS new_isl
              FROM cov
            ),
            runs AS (
              SELECT doc_id, pos,
                     SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                                        ROWS UNBOUNDED PRECEDING) AS isl
              FROM isl
            )
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + 19 - min(pos) + 1 AS BIGINT) AS span_len
            FROM runs GROUP BY doc_id, isl
        """,
        # invariant gates: the Spark side emits provable VIOLATIONS;
        # the oracle is the empty relation (any row fails the hash).
        "winnow_guarantee_gate": """
            SELECT CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b
            WHERE FALSE
        """,
        "ann_upper_bound_gate": """
            SELECT CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS BIGINT) AS ivf_sim_x1e6,
                   CAST(NULL AS BIGINT) AS exact_sim_x1e6
            WHERE FALSE
        """,
        "simhash_recall_gate": """
            SELECT CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b
            WHERE FALSE
        """,
        "simhash_precision_gate": """
            SELECT CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b
            WHERE FALSE
        """,
        "winnow_precision_gate": """
            SELECT CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b
            WHERE FALSE
        """,
        "dup_pairs_m512_jaccard_gate": """
            SELECT CAST(NULL AS VARCHAR) AS url_a,
                   CAST(NULL AS VARCHAR) AS url_b,
                   CAST(NULL AS VARCHAR) AS kind,
                   CAST(NULL AS BIGINT) AS exact_jaccard_x1e6
            WHERE FALSE
        """,
        "dup_pairs_hll_a_jaccard_gate": """
            SELECT CAST(NULL AS VARCHAR) AS url_a,
                   CAST(NULL AS VARCHAR) AS url_b,
                   CAST(NULL AS VARCHAR) AS kind,
                   CAST(NULL AS BIGINT) AS exact_jaccard_x1e6
            WHERE FALSE
        """,
        "dup_pairs_hll_an_jaccard_gate": """
            SELECT CAST(NULL AS VARCHAR) AS url_a,
                   CAST(NULL AS VARCHAR) AS url_b,
                   CAST(NULL AS VARCHAR) AS kind,
                   CAST(NULL AS BIGINT) AS exact_jaccard_x1e6
            WHERE FALSE
        """,
        "lsh_recall_gate": """
            SELECT CAST(NULL AS BIGINT) AS vec_a, CAST(NULL AS BIGINT) AS vec_b
            WHERE FALSE
        """,
        "streaming_batch_cc_gate": """
            SELECT CAST(NULL AS BIGINT) AS node,
                   CAST(NULL AS BIGINT) AS cluster_a,
                   CAST(NULL AS BIGINT) AS cluster_b
            WHERE FALSE
        """,
        "word_repetition_scores": """
            WITH toks AS (
              SELECT d.doc_id, t.w
              FROM documents d, LATERAL unnest(string_split(d.text, ' ')) t(w)
              WHERE t.w <> ''
            ),
            wc AS (
              SELECT doc_id, w, count(*) AS n FROM toks GROUP BY doc_id, w
            ),
            per AS (
              SELECT doc_id,
                     CAST(sum(n) AS BIGINT) AS nw,
                     CAST(count(*) AS BIGINT) AS nd,
                     CAST(max(n) AS BIGINT) AS tp
              FROM wc GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(nw, 0) AS n_words,
                   coalesce(nd, 0) AS n_distinct_words,
                   coalesce(tp, 0) AS top_word_n,
                   CASE WHEN coalesce(nw, 0) > 0
                        THEN CAST(floor(1000 * (nw - nd) / nw) AS BIGINT)
                        ELSE 0 END AS dup_word_frac_x1000,
                   CASE WHEN coalesce(nw, 0) > 0
                        THEN CAST(floor(1000 * tp / nw) AS BIGINT)
                        ELSE 0 END AS top_word_frac_x1000
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        """,
        # same shingle semantics as the _NGRAM_CTES sh0 block (distinct
        # per doc, full 5-char windows only); the total tie order
        # (df DESC, s ASC) makes the top-50 SET deterministic
        "boilerplate_ngrams": """
            WITH sh0 AS (
              SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS s
              FROM documents d,
                   LATERAL unnest(range(1, greatest(length(d.text) - 3, 1))) t(i)
            )
            SELECT s, CAST(count(*) AS BIGINT) AS df
            FROM sh0 GROUP BY s
            ORDER BY df DESC, s ASC LIMIT 50
        """,
        "events_sessionized": """
            WITH flagged AS (
              SELECT user_id, epoch_us(ts) AS us, event_id,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                  > 1800 * 1000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sessioned AS (
              SELECT user_id, us,
                     CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
              FROM flagged
            )
            SELECT user_id, session_idx,
                   count(*) AS n_events,
                   min(us) AS session_start_us,
                   max(us) AS session_end_us
            FROM sessioned GROUP BY user_id, session_idx
        """,
        # as-of join oracle: clicks and errors interleave in one
        # cumulative window (right rows carry the payload; errors read
        # the running last non-null) — at equal (ts, event_id) order
        # keys right sorts before left, but event_id is unique so the
        # tiebreak never engages
        "events_asof_clicks": """
            WITH u AS (
              SELECT event_id, user_id, ts,
                     CASE WHEN event_type = 'click' THEN value END AS p,
                     CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
              FROM events WHERE event_type IN ('click', 'error')
            ),
            c AS (
              SELECT event_id, user_id, ts, side,
                     last_value(p IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id, side
                       ROWS UNBOUNDED PRECEDING) AS lastp
              FROM u
            )
            SELECT event_id, user_id,
                   epoch_us(ts) AS ts_us,
                   CAST(round(lastp * 100) AS BIGINT) AS last_click_value_cents
            FROM c WHERE side = 1
        """,
        "user_skew_profile": """
            WITH counts AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
              FROM events GROUP BY user_id
            ),
            totals AS (
              SELECT CAST(count(*) AS BIGINT) AS n_keys,
                     CAST(sum(n_rows) AS BIGINT) AS n_total
              FROM counts
            )
            SELECT user_id, n_rows,
                   -- HUGEINT mirrors the Spark side's decimal(38,0)
                   -- widening: the int64 cross-product overflows at
                   -- web scale (1e9 keys x 1e10-row hot key)
                   CAST(CAST(n_rows AS HUGEINT) * n_keys
                        > 2 * CAST(n_total AS HUGEINT) AS INT) AS is_heavy
            FROM counts, totals
        """,
        "event_type_stats": """
            SELECT event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_value_cents,
                   min(CAST(round(value * 100) AS BIGINT)) AS min_value_cents,
                   max(CAST(round(value * 100) AS BIGINT)) AS max_value_cents
            FROM events GROUP BY event_type
        """,
        # tiered cascade oracle: exact tier groups by text itself (the
        # Spark side's (xxhash64, md5) compound key is the documented
        # scale equivalent); the ngram tier is the SAME recursive-CTE
        # closure as dup_clusters_ngram but over exact-tier SURVIVORS
        # only (cascade semantics). final_keeper resolves the single
        # possible chain hop — a component-minimum keeper is never
        # itself removed, so one left join is exact.
        "dedup_cascade": f"""
            WITH RECURSIVE ex AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY text) AS exact_keeper
              FROM documents
            ),
            surv AS (
              SELECT d.* FROM documents d
              JOIN ex ON d.doc_id = ex.doc_id
              WHERE ex.doc_id = ex.exact_keeper
            ),
            {_ngram_ctes("surv")},
            sym AS (
              SELECT doc_a AS a, doc_b AS b FROM njp
              UNION ALL
              SELECT doc_b AS a, doc_a AS b FROM njp
            ),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              WHERE s.b != r.a
            ),
            ngrm AS (
              SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cl
              FROM reach GROUP BY a
            ),
            nr AS (SELECT doc_id, cl FROM ngrm WHERE doc_id != cl),
            verdict AS (
              SELECT ex.doc_id,
                     CASE WHEN ex.doc_id != ex.exact_keeper THEN 'exact'
                          WHEN nr.doc_id IS NOT NULL THEN 'ngram'
                          ELSE 'none' END AS removed_by,
                     CASE WHEN ex.doc_id != ex.exact_keeper
                               THEN ex.exact_keeper
                          WHEN nr.doc_id IS NOT NULL THEN nr.cl
                          ELSE ex.doc_id END AS keeper_id
              FROM ex LEFT JOIN nr ON ex.doc_id = nr.doc_id
            )
            SELECT v.doc_id, v.removed_by, v.keeper_id,
                   coalesce(nr2.cl, v.keeper_id) AS final_keeper_id
            FROM verdict v LEFT JOIN nr nr2 ON v.keeper_id = nr2.doc_id
        """,
        "dedup_cascade_summary": f"""
            WITH RECURSIVE ex AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY text) AS exact_keeper
              FROM documents
            ),
            surv AS (
              SELECT d.* FROM documents d
              JOIN ex ON d.doc_id = ex.doc_id
              WHERE ex.doc_id = ex.exact_keeper
            ),
            {_ngram_ctes("surv")},
            sym AS (
              SELECT doc_a AS a, doc_b AS b FROM njp
              UNION ALL
              SELECT doc_b AS a, doc_a AS b FROM njp
            ),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              WHERE s.b != r.a
            ),
            ngrm AS (
              SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cl
              FROM reach GROUP BY a
            ),
            nr AS (SELECT doc_id, cl FROM ngrm WHERE doc_id != cl),
            verdict AS (
              SELECT ex.doc_id,
                     CASE WHEN ex.doc_id != ex.exact_keeper THEN 'exact'
                          WHEN nr.doc_id IS NOT NULL THEN 'ngram'
                          ELSE 'none' END AS removed_by,
                     CASE WHEN ex.doc_id != ex.exact_keeper
                               THEN ex.exact_keeper
                          WHEN nr.doc_id IS NOT NULL THEN nr.cl
                          ELSE ex.doc_id END AS keeper_id
              FROM ex LEFT JOIN nr ON ex.doc_id = nr.doc_id
            ),
            resolved AS (
              SELECT v.doc_id, v.removed_by,
                     coalesce(nr2.cl, v.keeper_id) AS final_keeper_id
              FROM verdict v LEFT JOIN nr nr2 ON v.keeper_id = nr2.doc_id
            )
            SELECT removed_by,
                   count(*) AS n_docs,
                   count(DISTINCT final_keeper_id) AS n_keepers
            FROM resolved GROUP BY removed_by
        """,
        # deterministic md5-keyed sampling (functions/sampling.py):
        # fixed-width lowercase-hex md5 compares identically to its
        # numeric value on both engines, so the string comparison IS
        # the uniform threshold test and the oracle replays the exact
        # selection. Threshold literal comes from the same
        # rate_threshold() the Spark side uses — one source of truth.
        "sample_bernoulli": f"""
            SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS skey
            FROM documents
            WHERE md5('42:' || CAST(doc_id AS VARCHAR))
                  < '{_sampling_rate_threshold(0.05)}'
        """,
        "sample_stratified": """
            SELECT doc_id, lang, rk FROM (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
                     ) AS rk
              FROM documents
            ) WHERE rk <= 20
        """,
        # cascade_smh_invariant_gate: violations of the cascade's
        # exactly-checkable contract (total verdict function,
        # independent exact-tier parity, keeper closure) — expected
        # empty even though the smh tier's decisions are rows-only
        "cascade_smh_invariant_gate": """
            SELECT CAST(NULL AS VARCHAR) AS kind,
                   CAST(NULL AS BIGINT) AS doc_id
            WHERE FALSE
        """,
        # url canonicalization: every Spark rule mirrored 1:1; the only
        # dialect delta is DuckDB's explicit 'g' flag (Spark
        # regexp_replace is global by default).
        "url_canonical": f"""
            WITH {_URL_CTES}
            SELECT doc_id, url, canon_url FROM canon
        """,
        "url_dedup_groups": f"""
            WITH {_URL_CTES}
            SELECT canon_url, min(doc_id) AS keeper,
                   count(*) AS n_docs
            FROM canon GROUP BY canon_url HAVING count(*) >= 2
        """,
        # line_dedup over 8-word re-chunked lines: DuckDB zips the
        # parallel unnests (line, index) the way Spark posexplode does.
        "line_dedup_docs": """
            WITH w AS (
              SELECT doc_id,
                     string_split(replace(coalesce(text, ''), chr(10), ' '), ' ') AS words
              FROM documents
            ),
            c AS (
              SELECT doc_id, words,
                     unnest(range(0, CAST(ceil(len(words) / 8.0) AS BIGINT))) AS ci
              FROM w
            ),
            l AS (
              SELECT doc_id, ci AS pos,
                     array_to_string(words[(ci*8 + 1):(ci*8 + 8)], ' ') AS line
              FROM c
            ),
            nd AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id),
            dfx AS (
              SELECT line, count(DISTINCT doc_id) AS line_df
              FROM l GROUP BY line
            ),
            kept AS (
              SELECT l.doc_id, l.pos, l.line
              FROM l JOIN dfx USING (line) WHERE dfx.line_df < 2
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
              FROM kept GROUP BY doc_id
            )
            SELECT nd.doc_id, nd.n_lines,
                   coalesce(agg.n_kept, 0) AS n_kept,
                   coalesce(agg.cleaned_text, '') AS cleaned_text
            FROM nd LEFT JOIN agg USING (doc_id)
        """,
        "incremental_new_docs": """
            SELECT d.doc_id FROM documents d
            WHERE NOT EXISTS (
              SELECT 1 FROM documents r
              WHERE r.doc_id % 2 = 0
                AND coalesce(r.text, '') = coalesce(d.text, '')
            )
        """,
        "bloom_subset_gate": """
            SELECT CAST(NULL AS BIGINT) AS violating_id WHERE FALSE
        """,
        # full url -> exact -> ngram cascade: tier-0 canonical-URL
        # grouping prunes before the text tiers; final keeper resolved
        # by the exact-chase then ngram-chase (<= 3-hop chains).
        "dedup_cascade_url": f"""
            WITH RECURSIVE {_url_cascade_ctes()}
            SELECT doc_id, removed_by, keeper_id, final_keeper_id
            FROM final
        """,
        "dedup_cascade_url_summary": f"""
            WITH RECURSIVE {_url_cascade_ctes()}
            SELECT removed_by, count(*) AS n_docs,
                   count(DISTINCT final_keeper_id) AS n_keepers
            FROM final GROUP BY removed_by
        """,
        # dup_pairs_smh / dup_clusters_smh / embedding_lsh_candidates /
        # simhash_pairs / streaming_neardup_candidates /
        # dedup_cascade_smh / incremental_new_docs_bloom: sketch/hash/
        # state decisions not expressible in ANSI SQL -> rows-only
        # (their derived SQL-checkable gates are above).
    }


def _lang_predict_sql() -> str:
    def hits(words):
        terms = " + ".join(
            f"(length(p) - length(replace(p, ' {w} ', ''))) / {len(w) + 2}" for w in words
        )
        return f"CAST(floor({terms}) AS BIGINT)"

    banks = {
        "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
        "es": ("el", "la", "de", "que", "y", "los", "las", "una"),
        "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    }
    return f"""
        WITH padded AS (
          SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents
        ),
        scores AS (
          SELECT doc_id, {hits(banks['en'])} AS en, {hits(banks['es'])} AS es,
                 {hits(banks['de'])} AS de
          FROM padded
        )
        SELECT doc_id,
               CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
                    WHEN es >= de AND es > 0 THEN 'es'
                    WHEN de > 0 THEN 'de'
                    ELSE 'und' END AS lang_pred
        FROM scores
    """
