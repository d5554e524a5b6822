"""Config layer: INI use-case parsing (reference format) + end-to-end
run_all tick into an OutlierStore."""

import datetime as dt
import textwrap

from ee_outliers_spark.config import (
    AnalyzerSpec, GeneralSettings, load_settings, load_use_cases,
    parse_duration, run_all, run_analyzer,
)
from ee_outliers_spark.sources.results import OutlierStore

INI = """
[simplequery_powershell_hidden]
es_query_filter=powershell AND "hidden window"
outlier_type=powershell
outlier_reason=hidden powershell window
outlier_summary=hidden powershell on {host}
run_model=1

[terms_rare_host_process]
es_query_filter=_exists_:host
aggregator=proc
target=host
target_count_method=across_aggregators
trigger_on=low
trigger_method=float
trigger_sensitivity=2
outlier_summary=rare process {proc}
run_model=1

[metrics_long_cmdline]
aggregator=host
target=text
metric=length
trigger_on=high
trigger_method=float
trigger_sensitivity=30
run_model=0

[not_an_analyzer]
foo=bar
"""


def test_parse_use_cases(tmp_path):
    p = tmp_path / "cases.conf"
    p.write_text(textwrap.dedent(INI))
    specs = load_use_cases(str(p))
    assert [s.name for s in specs] == [
        "simplequery_powershell_hidden", "terms_rare_host_process",
        "metrics_long_cmdline",
    ]
    sq, tm, mt = specs
    assert sq.model_type == "simplequery"
    assert tm.aggregator == ["proc"] and tm.trigger_sensitivity == 2.0
    assert mt.run_model is False
    assert parse_duration("001:12:30") == dt.timedelta(days=1, hours=12, minutes=30)


def _events(spark):
    rows = [
        (1, "powershell -W hidden window run", "hostA", "pwsh"),
        (2, "powershell plain", "hostA", "pwsh"),
        (3, "explorer stuff", "hostB", "explorer"),
        (4, "svc beacon", "hostB", "rare.exe"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, host string, proc string")


def test_load_settings_general_daemon_index(tmp_path):
    """outliers.conf [general]/[daemon] parity (ref defaults/outliers.conf:
    1-103) + the engine [index] section (LSM compaction policy, per-field
    analyzed columns) — unknown keys ignored like the reference."""
    conf = tmp_path / "outliers.conf"
    conf.write_text(textwrap.dedent("""
        [general]
        es_url=http://unused:9200
        history_window_days=3
        history_window_hours=12
        es_save_results=0
        es_wipe_all_existing_outliers=1
        es_wipe_all_whitelisted_outliers=0
        run_models=1
        test_models=1
        timestamp_field=@timestamp

        [daemon]
        schedule=30 2 * * *

        [index]
        num_segments=16
        positions=1
        analyzed_fields=title, Body
        max_live_segments=32
        merge_fanin=8
    """))
    s = load_settings(str(conf))
    assert s.history_window == dt.timedelta(days=3, hours=12)
    assert s.save_results is False
    assert s.wipe_all_existing_outliers is True
    assert s.wipe_all_whitelisted_outliers is False
    assert s.test_models is True
    assert s.timestamp_field == "@timestamp"
    assert s.schedule == "30 2 * * *"
    assert s.num_segments == 16
    assert s.positions is True
    assert s.analyzed_fields == ["title", "Body"]
    assert s.max_live_segments == 32
    assert s.merge_fanin == 8
    # empty file → all defaults (num_segments None = auto budget)
    empty = tmp_path / "empty.conf"
    empty.write_text("")
    d = load_settings(str(empty))
    assert d == GeneralSettings()
    assert d.num_segments is None


def test_run_analyzer_simplequery_render(spark):
    spec = AnalyzerSpec(
        name="simplequery_x", model_type="simplequery",
        es_query_filter='powershell AND "hidden window"',
        outlier_summary="hidden powershell on {host}",
    )
    out = run_analyzer(_events(spark), spec)
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["outlier_summary"] == "hidden powershell on hostA"
    assert rows[0]["model_name"] == "simplequery_x"


WL_INI = """
[simplequery_powershell_hidden]
es_query_filter=powershell AND "hidden window"
outlier_summary=hidden powershell on {host}
run_model=1

[terms_rare_host_process]
es_query_filter=_exists_:host
aggregator=proc
target=host
target_count_method=across_aggregators
trigger_on=low
trigger_method=float
trigger_sensitivity=2
run_model=1

[whitelist_literals]
known_admin_host=hostA

[whitelist_regexps]
trusted_procs=^expl.*$,^hostB$
"""


def test_whitelists_from_ini(spark, tmp_path):
    """Ref analyzerfactory.py:76-83: the file's whitelist sections attach to
    every model; whitelisted flagged docs are retracted (and for terms the
    frontier is recomputed — the fixpoint)."""
    p = tmp_path / "wl.conf"
    p.write_text(textwrap.dedent(WL_INI))
    specs = load_use_cases(str(p))
    assert all(s.whitelist_literals == [["hostA"]] for s in specs)
    assert all(s.whitelist_regexps == [["^expl.*$", "^hostB$"]] for s in specs)
    sq = run_analyzer(_events(spark), specs[0])
    # doc 1 matched the query but carries hostA -> whitelisted away
    assert sq.count() == 0
    tm = run_analyzer(_events(spark), specs[1])
    got = sorted(r["doc_id"] for r in tm.collect())
    # without whitelists all 4 flagged; hostA docs (1,2) retracted by the
    # literal, doc 3 by the regex conjunction (explorer+hostB); doc 4 stays
    assert got == [4]


def test_run_analyzer_word2vec(spark):
    spec = AnalyzerSpec(
        name="word2vec_cmdline", model_type="word2vec",
        aggregator=["host"], target="text",
        trigger_method="stdev", trigger_sensitivity=0.5, trigger_on="low",
    )
    rows = [
        (i, "run job batch run job batch queue", "hostA", "p") for i in range(8)
    ] + [(99, "zz yy xx ww vv uu tt", "hostA", "p")]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, host string, proc string")
    out = run_analyzer(df, spec)
    got = [r["doc_id"] for r in out.collect()]
    assert got == [99]
    assert out.columns.count("doc_id") == 1


def test_word2vec_from_ini(tmp_path):
    p = tmp_path / "w2v.conf"
    p.write_text(textwrap.dedent("""
    [word2vec_text_anomaly]
    aggregator=host
    target=text
    trigger_on=low
    trigger_method=stdev
    trigger_sensitivity=1
    size_window=3
    max_voc_size=100
    min_voc_occurrence=2
    """))
    (spec,) = load_use_cases(str(p))
    assert spec.model_type == "word2vec"
    assert spec.word2vec_window == 3
    assert spec.max_voc_size == 100
    assert spec.min_voc_occurrence == 2


def test_simplequery_highlight_match(spark):
    spec = AnalyzerSpec(
        name="simplequery_hl", model_type="simplequery",
        es_query_filter='powershell AND "hidden window"',
        highlight_match=True,
    )
    rows = run_analyzer(_events(spark), spec).collect()
    assert len(rows) == 1
    assert rows[0]["matched_fields"] == (
        "<value>powershell</value> -W <value>hidden window</value> run")
    assert rows[0]["matched_values"] == "powershell,hidden window"


def test_run_daemon_and_summary(spark):
    import datetime as dtm

    from ee_outliers_spark.config import analysis_summary, run_daemon

    spec = AnalyzerSpec(
        name="simplequery_ps", model_type="simplequery",
        es_query_filter="powershell",
    )
    now = [dtm.datetime(2024, 1, 1, 23, 59)]

    def clock():
        return now[0]

    def sleeper(secs):
        now[0] = now[0] + dtm.timedelta(seconds=secs)

    stats = run_daemon(lambda: _events(spark), [spec], schedule="0 0 * * *",
                       max_ticks=2, clock=clock, sleeper=sleeper)
    assert len(stats) == 2
    assert all(s["total_outliers"] == 2 for s in stats)
    summ = analysis_summary(stats)
    assert summ["total_use_cases_processed"] == 2
    assert summ["total_outliers_detected"] == 4
    assert len(summ["most_time_consuming_use_cases_top10"]) == 2


def test_run_all_into_store(spark, tmp_path):
    p = tmp_path / "cases.conf"
    p.write_text(textwrap.dedent(INI))
    specs = load_use_cases(str(p))
    store = OutlierStore(spark, str(tmp_path / "outliers.parquet"))
    counts = run_all(_events(spark), specs, store=store)
    assert counts["simplequery_powershell_hidden"] == 1
    assert "metrics_long_cmdline" not in counts  # run_model=0
    # terms across: each proc has 1 distinct host; frontier 'float' 2 low
    # flags every aggregator (1 < 2) -> all 4 docs
    assert counts["terms_rare_host_process"] == 4
    # idempotent re-run inserts nothing
    counts2 = run_all(_events(spark), specs, store=store)
    assert sum(counts2.values()) == 0
    df = store.read()
    assert df.where("model_name = 'simplequery_powershell_hidden'").count() == 1


def test_ini_runner_uses_index(spark, documents, tmp_path):
    """The production INI path compiles es_query_filter through the posting
    lists when an index is supplied: the physical plan scans segments.parquet
    and contains NO rlike for single-token terms — the engine's machinery
    reaches the product entry point, not just the gates."""
    import textwrap as _tw

    from ee_outliers_spark.index.build import build_segments
    from ee_outliers_spark.queryparser import parse_query_string, to_spark_predicate

    idx = build_segments(spark, documents, "doc_id", "text",
                         str(tmp_path / "idx"), num_segments=4)
    p = tmp_path / "cases.conf"
    p.write_text(_tw.dedent("""
        [simplequery_window_en]
        es_query_filter=window AND customer AND _exists_:lang
        outlier_summary=windowed doc {doc_id}
        run_model=1

        [terms_rare_source_filtered]
        es_query_filter=window AND batch
        aggregator=lang
        target=source
        target_count_method=across_aggregators
        trigger_on=low
        trigger_method=float
        trigger_sensitivity=99
        run_model=1
    """))
    specs = load_use_cases(str(p))
    sq, tm = specs

    out = run_analyzer(documents, sq, text_col="text", key_col="doc_id",
                       index=idx)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rlike" not in plan.lower()
    assert "segment_stage" in plan  # segment_map's index read
    # identical rows to the regex compilation
    node = parse_query_string(sq.es_query_filter)
    want = sorted(r["doc_id"] for r in documents.where(
        to_spark_predicate(node, "text", documents.columns)
    ).select("doc_id").collect())
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert got == want and got

    # non-simplequery analyzers route their filter through the index too
    out2 = run_analyzer(documents, tm, text_col="text", key_col="doc_id",
                        index=idx)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "rlike" not in plan2.lower()
    assert out2.count() >= 0  # executes

    # run_all forwards the index
    res = run_all(documents, [sq], key_col="doc_id", text_col="text",
                  index=idx)
    assert res["simplequery_window_en"] == len(got)


def test_cli_main_interactive(spark, sf_dir, tmp_path):
    """The `python -m ee_outliers_spark interactive` surface (reference run
    modes, app/helpers/settings.py:10-49): INI use cases + parquet corpus +
    index + MERGE sink, end to end, returning the run summary."""
    import textwrap as _tw

    from ee_outliers_spark.__main__ import main

    cases = tmp_path / "cases.conf"
    cases.write_text(_tw.dedent("""
        [simplequery_windowed]
        es_query_filter=window AND customer
        outlier_type=test
        outlier_summary=doc {doc_id}
        run_model=1
    """))
    summary = main([
        "interactive",
        "--use-cases", str(cases),
        "--data", sf_dir,
        "--index", str(tmp_path / "idx"),
        "--results", str(tmp_path / "store"),
    ], spark=spark)
    assert summary["total_use_cases_processed"] == 1
    assert summary["total_outliers_detected"] > 0
    # the MERGE sink got the rows; a second run inserts zero (idempotent)
    summary2 = main([
        "interactive",
        "--use-cases", str(cases),
        "--data", sf_dir,
        "--index", str(tmp_path / "idx"),
        "--results", str(tmp_path / "store"),
    ], spark=spark)
    assert summary2["total_outliers_detected"] == 0


def test_ini_runner_multiterm_forms(spark, documents, tmp_path):
    """A use-case file exercising the round-3 grammar — wildcard, fuzzy,
    sloppy phrase, boost, field group — runs through the indexed product
    path and matches the regex/HOF compilation of the same AST."""
    import textwrap as _tw

    from ee_outliers_spark.index.build import build_segments
    from ee_outliers_spark.queryparser import (
        parse_query_string, to_spark_predicate,
    )

    idx = build_segments(spark, documents, "doc_id", "text",
                         str(tmp_path / "idx"), num_segments=4,
                         positions=True)
    p = tmp_path / "cases.conf"
    p.write_text(_tw.dedent("""
        [simplequery_multiterm]
        es_query_filter=cust*^2 AND "order key"~2 AND lang:(en OR de) AND NOT batc?
        outlier_summary=multiterm doc {doc_id}
        run_model=1
    """))
    spec, = load_use_cases(str(p))
    out = run_analyzer(documents, spec, text_col="text", key_col="doc_id",
                       index=idx)
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    node = parse_query_string(spec.es_query_filter)
    want = sorted(r["doc_id"] for r in documents.where(
        to_spark_predicate(node, "text", documents.columns)
    ).select("doc_id").collect())
    assert got == want
