"""End-to-end training-data curation example.

Runs the full curation flow over the synthetic documents corpus:

  read -> boilerplate line removal -> language ID ->
  quality/token/repetition/entropy/link-density gate -> logistic
  quality classifier -> corpus-LM (unigram) outlier gate -> DSIR
  importance gate -> PII scrub -> exact dedup -> minhash near-dup
  dedup (cluster, keep one) -> phrase-novelty gate -> target-mix
  rebalance (or temperature_mix for derived targets) -> benchmark
  decontamination -> train/val/test split -> sequence packing ->
  corpus stats + TF-IDF keywords

Usage (from the repo root):

    python examples/curate_documents.py [sf_dir] [out_dir]

Defaults: sf_dir=/root/testdata/sf0.001, out_dir=/tmp/curated_docs.
"""

import sys

sys.path.insert(0, ".")

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hermes_spark.functions.text import (
    add_lang_id,
    link_density,
    pii_match_count,
    quality_score_multilingual,
    repetition_ratio,
    scrub_pii,
    token_count,
)
from hermes_spark.operators import (
    dsir_weights,
    entropy_profile,
    exact_dedup,
    fuzzy_dedup_keep_one,
    linear_quality_score,
    minhash_lsh_pairs,
    ngram_novelty,
    rebalance_mix,
    strip_boilerplate_lines,
    tfidf_topk_terms,
    unigram_logprob,
)
from hermes_spark.operators.packing import pack_sequences
from hermes_spark.operators.passages import decontaminate
from hermes_spark.operators.sampling import split_assign


def curate(
    spark: SparkSession, sf_dir: str, out_dir: str, funnel: dict | None = None
) -> None:
    """Run the full curation flow; pass a dict as ``funnel`` to record
    the per-stage row counts (each count is an extra action, so leave
    it None outside of probes/benchmarks)."""

    def track(stage: str, df):
        if funnel is not None:
            funnel[stage] = df.count()
        return df

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = docs.count()
    if funnel is not None:
        funnel["input"] = n0

    # -1. fail fast on broken input: one-scan data-quality gate before
    # spending any compute on curation
    from hermes_spark.operators import Rule, check_expectations

    dq = check_expectations(
        docs,
        [
            Rule.not_null("doc_id_not_null", "doc_id"),
            Rule.unique("doc_id_unique", "doc_id"),
            Rule.not_null("text_not_null", "text", max_rate=0.01),
            Rule.isin(
                "lang_known", "lang", ["en", "de", "fr", "es", "zh"], max_rate=0.05
            ),
        ],
    )
    failed = [r["rule"] for r in dq.collect() if not r["passed"]]
    if failed:
        raise RuntimeError(f"input data-quality gate failed: {failed}")

    # 0. strip corpus-level boilerplate lines (navbars/footers)
    docs = strip_boilerplate_lines(docs, "doc_id", "text", min_docs=5)

    # 1. annotate: language, tokens, quality, repetition, PII density
    # NOTE: the synthetic corpus's text is language-neutral word soup,
    # so the n-gram lang_id heuristic (kept here as `lang_pred` to show
    # the wiring) can't recover the table's `lang` labels; the mix
    # steps below use the metadata column, as a real pipeline would
    # when upstream labels exist.
    # add_lang_id (round 11): the Column-cascade lang_id re-evaluates
    # its 19 marker ratios per CASE branch; the DataFrame helper is
    # 4-7x at identical labels
    annotated = add_lang_id(docs, "text", "lang_pred").select(
        "doc_id",
        "source",
        "text",
        "lang",
        "lang_pred",
        token_count(F.col("text")).alias("n_tokens"),
        # r12: the script-fair composite — byte-identical to
        # quality_score on Latin text, meaningful for CJK/SEA scripts
        quality_score_multilingual(F.col("text")).alias("quality"),
        repetition_ratio(F.col("text"), 2).alias("rep_bigram"),
        pii_match_count(F.col("text")).alias("n_pii"),
        link_density(F.col("text")).alias("link_dens"),
    )

    # 1b. entropy profile: binary junk scores high char entropy,
    # template spam low token entropy
    ent = entropy_profile(docs, "doc_id", "text")
    annotated = annotated.join(ent, "doc_id", "left")

    # 2. gate: quality floor, minimum length, low repetition, low PII,
    # sane entropy band, not link-dominated
    gated = annotated.filter(
        (F.col("quality") >= 0.5)
        & (F.col("n_tokens") >= 10)
        & (F.col("rep_bigram") <= 0.3)
        & (F.col("n_pii") <= 5)
        & (F.col("char_entropy").between(2.0, 6.5))
        & (F.col("token_entropy") >= 1.0)
        & (F.col("link_dens") <= 0.5)
    ).drop("chars_per_token")

    # 2b. logistic quality classifier: fixed-weight model over scan-fused
    # features (swap in offline-trained weights in production)
    clf = linear_quality_score(gated, "doc_id", "text").select(
        "doc_id", F.col("quality").alias("clf_quality"), "keep"
    )
    gated = (
        gated.join(clf, "doc_id")
        .filter(F.col("keep"))
        .drop("keep")
    )

    # 2c. corpus-LM outlier gate: drop docs far below the corpus's
    # typical unigram log-prob (OCR noise, junk encodings)
    lm = unigram_logprob(gated, "doc_id", "text")
    floor = lm.agg(
        (F.avg("avg_logprob") - 3 * F.stddev("avg_logprob")).alias("f")
    ).collect()[0]["f"]
    keep = lm.filter(F.col("avg_logprob") >= floor).select("doc_id")
    gated = gated.join(keep, on="doc_id", how="left_semi")

    # 2d. DSIR importance gate: score every document's likeness to a
    # quality target (here: the classifier-approved English slice) via
    # hashed-unigram log-likelihood ratios. Cut only the extreme tail —
    # per-token LLR below the 1st percentile — so the gate drops
    # out-of-distribution junk without erasing the language mix (a mean
    # − 3σ cut on the raw LLR would: non-target languages sit in a
    # second mode whose whole mass can fall under a σ-based floor).
    weights = dsir_weights(
        gated, gated.filter(F.col("lang") == "en"), "doc_id", "text", buckets=1024
    ).withColumn(
        "llr_per_tok", F.col("log_weight") / F.greatest(F.col("n_tokens"), F.lit(1))
    )
    wfloor = weights.approxQuantile("llr_per_tok", [0.01], 0.001)[0]
    gated = gated.join(
        weights.filter(F.col("llr_per_tok") >= wfloor).select("doc_id"),
        on="doc_id",
        how="left_semi",
    )

    # --- stage boundary -------------------------------------------------
    # The annotate/gate phase above stacks a dozen joins and
    # higher-order array expressions into ONE logical plan; letting the
    # dedup/rebalance phase keep growing that tree makes Catalyst
    # analysis itself the bottleneck (deep canonicalization recursion).
    # A production pipeline would write the gated corpus to storage
    # here; localCheckpoint is the in-process equivalent — it truncates
    # lineage so each phase is planned against a flat scan.
    gated = track("gated", gated.localCheckpoint())

    # 3. scrub remaining PII spans
    scrubbed = gated.withColumn("text", scrub_pii(F.col("text")))

    # 4. exact dedup (normalized-text fingerprint, keep min id)
    exact = track(
        "exact_dedup", exact_dedup(scrubbed, "doc_id", text_col="text").drop("dup_count")
    )

    # 5. fuzzy dedup: minhash candidates -> components -> keep one
    pairs = minhash_lsh_pairs(
        exact, "doc_id", "text", portable=False
    ).filter(F.col("est_jaccard") >= 0.8)
    # cc_stats: the undirected pair count and the contraction rounds
    # run before the driver labelled the rest
    cc_stats: dict = {}
    deduped = fuzzy_dedup_keep_one(exact, "doc_id", pairs, stats=cc_stats)

    # --- stage boundary (same rationale as above) -----------------------
    deduped = track("fuzzy_dedup", deduped.localCheckpoint())
    print(f"  fuzzy dedup clustering: {cc_stats}")

    # 5b. phrase-novelty gate: drop documents re-assembled almost
    # entirely from phrases the corpus already contains (template spam
    # that survives fingerprint dedup); stop-gram head excluded
    nov = ngram_novelty(deduped, "doc_id", "text", n=3)
    deduped = deduped.join(
        nov.filter(F.col("novelty") >= 0.05).select("doc_id"),
        on="doc_id",
        how="left_semi",
    )

    # 6. rebalance to a target language mix, reproducibly — rates are
    # derived from the observed counts (scarcest stratum waterfill),
    # so the output mix tracks the target as the corpus evolves
    # (temperature_mix(deduped, "doc_id", "lang", temperature=2.0)
    #  derives the targets from the data instead — same filter shape)
    deduped = track("novelty_gate", deduped)
    final = track(
        "rebalance",
        rebalance_mix(
            deduped, "doc_id", "lang",
            {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.2},
        ),
    )

    # 7. benchmark decontamination: drop anything sharing an 8-gram
    # with the (synthetic) held-out eval slice
    bench = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 97 == 0
    )
    flags = decontaminate(final, bench, "doc_id", "text", n=8)
    clean_ids = flags.filter(~F.col("contaminated")).select("doc_id")
    final = track(
        "decontaminated", final.join(clean_ids, on="doc_id", how="left_semi")
    )

    # 8. deterministic 90/5/5 split, then pack the train split into
    # fixed-budget training sequences
    final = split_assign(final, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    train = final.filter(F.col("split") == "train")
    packed = pack_sequences(train, "doc_id", token_count_col="n_tokens", budget=2048)
    n_seqs = packed.select("shard", "seq_in_shard").distinct().count()
    if funnel is not None:
        funnel["train_packed_seqs"] = n_seqs

    # shard-partitioned output with bounded file sizes + row-count
    # manifest (what a training loader actually consumes)
    from hermes_spark.sources.io import write_training_shards

    write_training_shards(
        final.withColumn("shard", (F.col("doc_id") % 8).cast("long")),
        out_dir,
        shard_col="shard",
        max_records_per_file=100_000,
    )

    stats = (
        final.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
            F.round(F.avg("quality"), 3).alias("avg_quality"),
        )
        .orderBy("lang")
    )
    print(f"\ncurated {n0} -> {final.count()} docs; "
          f"train packed into {n_seqs} sequences; per-language mix:")
    stats.show(truncate=False)

    # 7. characteristic terms of the final corpus (searchable summary)
    print("sample TF-IDF keywords:")
    tfidf_topk_terms(final, "doc_id", "text", k=3).filter(
        F.col("doc_id") < 5
    ).orderBy("doc_id", "rank").show(truncate=False)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/curated_docs"
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("curate-documents")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    curate(spark, sf_dir, out_dir)


if __name__ == "__main__":
    main()
