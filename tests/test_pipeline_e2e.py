"""End-to-end pipeline tests: Spark output == reference labels, resume
idempotence, metrics lineage, skew handling."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark.functions import (
    classify,
    langid,
    perplexity,
    pii,
    rules,
)
from wikisource_latin_text_cleaner_spark.operators import skew
from wikisource_latin_text_cleaner_spark.operators.pipeline import (
    PipelineConfig,
    QualityFilterPipeline,
    drop_reason_histogram,
)
from wikisource_latin_text_cleaner_spark.plans import checkpoints
from wikisource_latin_text_cleaner_spark.sources import synth

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.fixture(scope="module")
def transformed(spark, pages_df):
    pipe = QualityFilterPipeline(PipelineConfig(langid=False, classify=True))
    return pipe.transform(pages_df).cache()


def test_spark_output_matches_reference_labels(spark, transformed):
    """Per-url keep/drop + byte-identical clean_text vs the labels produced
    by running the actual reference code (tests/gen_goldens.py)."""
    table = pq.read_table(os.path.join(HERE, "data", "page_labels.parquet"))
    labels = {
        url: (keep, clean)
        for url, keep, clean in zip(
            table["url"].to_pylist(), table["keep"].to_pylist(),
            table["clean_text"].to_pylist(),
        )
    }
    got = transformed.select("url", "keep", "clean_text").collect()
    checked = 0
    for row in got:
        if row["url"] not in labels:  # labels cover seeds 7+42; pages_df is seed 7
            continue
        exp_keep, exp_clean = labels[row["url"]]
        assert row["keep"] == exp_keep, row["url"]
        if exp_keep:
            assert row["clean_text"] == exp_clean, row["url"]
        checked += 1
    assert checked == 300


#: every fused-UDF component on: driver.py --mode web plus a perplexity
#: threshold near the median ppx of the fixture's langid-passing docs
WEB_FULL = dict(extensions=rules.ExtensionConfig(), classify=True,
                langid=True, perplexity_threshold=11.2, pii_scrub=True)


@pytest.mark.parametrize("kw", [
    dict(langid=False, classify=False),
    WEB_FULL,
], ids=["reference", "web"])
def test_transform_has_no_shuffle(spark, kw):
    """One Python stage, no shuffle: the whole per-document pipeline is a
    single ArrowEvalPython (vectorization constraint, BASELINE.md §2)."""
    df = synth.pages_dataframe(spark, 10, seed=7)  # no repartition in source
    pipe = QualityFilterPipeline(PipelineConfig(**kw))
    plan = pipe.transform(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_metrics_lineage(spark, pages_df, transformed):
    pipe = QualityFilterPipeline(PipelineConfig(langid=False))
    m = pipe.metrics(transformed)
    rows = {(r["partition_id"], r["rule"]): r for r in m.collect()}
    totals = [r for (pid, rule), r in rows.items() if rule == "_partition_total"]
    assert totals
    assert sum(r["docs_in"] for r in totals) == 300
    kept = transformed.filter("keep").count()
    assert sum(r["docs_out"] for r in totals) == kept


def test_rule_metrics_per_pattern_counts(spark):
    """ref A4/step5: per-orthography-rule substitution counts surface in the
    rule_hits column and as variant:<rule> rows in the metrics table."""
    filler = ("gallia est omnis divisa in partes tres quarum unam incolunt "
              "belgae aliam aquitani tertiam qui ipsorum lingua celtae. ") * 5
    text = filler + "michi placet et michi manet liber tercius hic."
    pages = spark.createDataFrame(
        [("u-variant", None, None, text, "la")], synth.PAGES_SCHEMA_DDL
    )
    pipe = QualityFilterPipeline(PipelineConfig(
        langid=False, classify=False, rule_metrics=True))
    out = pipe.transform(pages)
    row = out.collect()[0]
    assert row.rule_hits["michi"] == 2, row.rule_hits
    assert row.rule_hits["tercius"] == 1
    hits = {r.rule: r.rule_hits for r in pipe.metrics(out).collect()
            if r.rule.startswith("variant:")}
    assert hits == {"variant:michi": 2, "variant:tercius": 1}


def test_rule_metrics_off_by_default(spark, transformed):
    """The default transform must not carry (or compute) the map column."""
    assert "rule_hits" not in transformed.columns


def test_drop_reason_histogram(spark, transformed):
    hist = {r["decision"]: r["n_docs"] for r in drop_reason_histogram(transformed).collect()}
    assert hist.get("keep", 0) > 0
    assert sum(hist.values()) == 300
    assert set(hist) <= {"keep", "min_size", "index_toc", "pre_clean_len", "post_clean_len"}


def test_langid_gate(spark, pages_df):
    pipe = QualityFilterPipeline(PipelineConfig(langid=True, classify=False))
    out = pipe.transform(pages_df).cache()
    kept = out.filter("keep")
    # every kept doc must be predicted Latin
    assert kept.filter(~F.col("lang_pred").isin("la")).count() == 0
    dropped_langid = out.filter(F.array_contains("drop_reasons", "langid"))
    assert dropped_langid.count() > 0
    out.unpersist()


def test_resume_idempotent(spark, pages_df, tmp_path):
    out_dir = str(tmp_path / "clean")
    pipe = QualityFilterPipeline(PipelineConfig(langid=False, classify=False))
    n1 = checkpoints.run_resumable(pipe.transform, pages_df, out_dir, n_buckets=8)
    assert n1 == list(range(8))
    full = checkpoints.read_output(spark, out_dir)
    snapshot1 = sorted(
        (r["url"], r["keep"], r["clean_text"]) for r in full.select("url", "keep", "clean_text").collect()
    )

    # simulate a partial run: wipe two buckets' manifest rows and data
    import shutil

    manifest = os.path.join(out_dir, "_checkpoints")
    done = [
        (r["bucket"], 8)
        for r in spark.read.parquet(manifest).filter(F.col("bucket") < 6).collect()
    ]
    shutil.rmtree(manifest)
    spark.createDataFrame(done, "bucket int, n_buckets int").write.parquet(manifest)
    n2 = checkpoints.run_resumable(pipe.transform, pages_df, out_dir, n_buckets=8)
    assert n2 == [6, 7]  # only the two missing buckets re-ran

    snapshot2 = sorted(
        (r["url"], r["keep"], r["clean_text"])
        for r in checkpoints.read_output(spark, out_dir).select("url", "keep", "clean_text").collect()
    )
    assert snapshot1 == snapshot2


def test_salted_repartition_defuses_skew(spark, pages_df):
    spread = skew.partition_size_spread(
        skew.salted_repartition(pages_df, "url", 16)
    ).collect()[0]
    assert spread["n_partitions"] >= 8
    assert spread["max_rows"] <= 3 * spread["mean_rows"]
    top = skew.heavy_hitters(pages_df).collect()
    assert top[0]["n_docs"] > top[-1]["n_docs"]


def test_pii_scrub():
    text = "scribe ad admin@example.com et vide https://ex.org/a 4111111111111111"
    scrubbed, counts = pii.scrub_pii(text)
    assert "<EMAIL>" in scrubbed and "<URL>" in scrubbed and "<NUMBER>" in scrubbed
    assert sum(counts.values()) == 3


def _python_composition(text, threshold):
    """Plain-Python twin of the fused UDF for WEB_FULL: the same functions.*
    calls, in the same order, plus the chars_removed arithmetic."""
    v = rules.evaluate_document(text, rules.MIN_SIZE_BYTES, rules.ExtensionConfig())
    keep, reasons, cleaned = v.keep, list(v.drop_reasons), v.clean_text
    c = classify.classify_document(text or "")
    lang_pred, lang_margin = langid.predict(cleaned or "")
    if keep and lang_pred != "la":
        reasons.append("langid")
        keep = False
    ppx = perplexity.perplexity(cleaned or "")
    if keep and ppx > threshold:
        reasons.append("perplexity")
        keep = False
    scrubbed, counts = pii.scrub_pii(cleaned or "")
    if keep:
        cleaned = scrubbed
    return dict(
        keep=keep, drop_reasons=reasons, clean_text=cleaned,
        period=c["period"], genre=c["genre"], confidence=c["confidence"],
        lang_pred=lang_pred, lang_margin=lang_margin, ppx=ppx,
        pii_spans=sum(counts.values()),
        chars_removed=len(text or "") - len(cleaned or ""),
    )


def test_fused_matches_python_composition(spark, pages_df):
    """Every output column of the fused transform equals a per-document
    composition of the plain-Python calls, with the langid and perplexity
    gates both firing."""
    out = QualityFilterPipeline(PipelineConfig(**WEB_FULL)).transform(pages_df)
    assert out.columns == [
        "url", "warc_ts", "lang", "keep", "drop_reasons", "clean_text",
        "period", "genre", "confidence", "lang_pred", "lang_margin", "ppx",
        "pii_spans", "chars_removed",
    ]
    got = {r["url"]: r.asDict() for r in out.collect()}
    pages = pages_df.select("url", "warc_ts", "lang", "text").collect()
    assert len(got) == len(pages) == 300
    reasons = []
    for p in pages:
        exp = dict(url=p["url"], warc_ts=p["warc_ts"], lang=p["lang"],
                   **_python_composition(p["text"], WEB_FULL["perplexity_threshold"]))
        assert got[p["url"]] == exp, p["url"]
        reasons += exp["drop_reasons"]
    # the langid and perplexity gates both fire and both let docs through
    assert "langid" in reasons and "perplexity" in reasons
    assert any(r["keep"] for r in got.values())


def test_resume_rejects_cross_scheme_manifest(spark, pages_df, tmp_path):
    """Resuming with a different n_buckets must raise, not mix schemes."""
    import pytest

    from wikisource_latin_text_cleaner_spark.plans import checkpoints

    pipe = QualityFilterPipeline(PipelineConfig(langid=False, classify=False))
    out = str(tmp_path / "o")
    checkpoints.run_resumable(pipe.transform, pages_df, out, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        checkpoints.run_resumable(pipe.transform, pages_df, out, n_buckets=16)
    # a fresh (non-resume) run under the new scheme replaces everything
    n = checkpoints.run_resumable(pipe.transform, pages_df, out,
                                  n_buckets=16, resume=False)
    assert n == list(range(16))
    assert checkpoints.read_output(spark, out).count() == pages_df.count()
