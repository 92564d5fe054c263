"""Physical-plan assertions: the plans Catalyst produces for the
operator layer must have the shapes the 100 TB story depends on —
filters/projections pushed into the parquet scan, dims broadcast,
partial aggregation before shuffles, top-k as TakeOrderedAndProject,
anti/semi joins planned as joins (not subquery re-scans). The
LakeTable read path is pinned too: one parquet scan per schema version
over any number of delta dirs, no Spark job to plan a read, and one
shuffle for a merge-on-read append. Operators that hand a row's words
or shingles to lambdas must bind that array once per row.

These tests pin the *plan*, the oracle tests pin the *values*."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.operators.dedup_text import exact_dedup_docs
from medallion_etl_spark.operators.medallion import (
    anti_join_unsold_parts,
    customer_nation_region,
    pricing_summary,
    semi_join_big_spenders,
    top_revenue_parts,
)
from medallion_etl_spark.sources.readers import load_table


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_small):
    p = plan(pricing_summary(spark, sf_small))
    assert "PushedFilters" in p
    assert "l_shipdate" in p.split("PushedFilters", 1)[1][:300]


def test_column_pruning_reaches_scan(spark, sf_small):
    # 2-column projection -> ReadSchema must not include other columns
    df = load_table(spark, sf_small, "lineitem").select("l_orderkey", "l_quantity")
    p = plan(df)
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_dim_joins_are_broadcast(spark, sf_small):
    p = plan(customer_nation_region(spark, sf_small))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_broadcast_hint_is_size_gated_for_scaling_tables(spark, sf_small):
    """Tables that grow with the corpus (customer/part/supplier) get
    their broadcast hint through broadcast_if_small: at test scale the
    estimate is under the threshold (hint applies, plan unchanged);
    with the threshold floored, the hint must disappear — the query is
    the same formulation a 100x run would use, AQE picking SMJ."""
    from medallion_etl_spark.operators.medallion import coverage_two_level
    from medallion_etl_spark.operators.util import broadcast_if_small

    df = load_table(spark, sf_small, "customer")
    hinted = broadcast_if_small(df)
    assert "UnresolvedHint broadcast" in hinted._jdf.queryExecution().logical().toString()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        unhinted = broadcast_if_small(df)
        assert "Hint" not in unhinted._jdf.queryExecution().logical().toString()
        # the pinned query still plans (broadcast OR SMJ on customer,
        # either is contract-legal) and keeps its fact-side SMJ shape
        p = plan(coverage_two_level(spark, sf_small))
        assert "Join" in p

        # '-1' is the standard broadcast-disabled spelling (Spark's
        # own parser strips the sign; JavaUtils alone rejects it) —
        # must return df unhinted, not crash
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        disabled = broadcast_if_small(df)
        assert "Hint" not in disabled._jdf.queryExecution().logical().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_fact_dim_join_broadcast_and_topk(spark, sf_small):
    p = plan(top_revenue_parts(spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # limit+orderBy never sorts the world


def test_partial_aggregation_before_shuffle(spark, sf_small):
    p = plan(pricing_summary(spark, sf_small))
    # partial + final hash aggregate pair around the exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_anti_and_semi_joins_planned_as_joins(spark, sf_small):
    assert "LeftAnti" in plan(anti_join_unsold_parts(spark, sf_small))
    assert "LeftSemi" in plan(semi_join_big_spenders(spark, sf_small))


def test_whole_stage_codegen_covers_scan_expressions(spark, sf_small):
    # AQE hides codegen markers until the final plan exists — execute,
    # then check the executed plan for whole-stage codegen stages (*(n))
    df = exact_dedup_docs(spark, sf_small)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" in executed or "*(" in executed


def _partial_max_by_before_exchange(df) -> None:
    """The final max_by sits above the key exchange and the partial
    max_by below it (simple mode prints the root first)."""
    lines = plan(df, mode="simple").splitlines()

    def first(needle: str) -> int:
        return next(i for i, line in enumerate(lines) if needle in line)

    exchange = first("Exchange hashpartitioning")
    assert first("max_by") < exchange < first("partial_max_by")


def test_lww_dedup_agg_strategy_has_partial_agg(spark, sf_small, mor_table):
    """The LWW reduction must plan a map-side partial aggregate — that
    partial reduction is the built-in hot-key defense — both in
    dedup_latest itself and where the read path enforces it: the fold
    of a delta-carrying bucket's base ∪ deltas."""
    from medallion_etl_spark.cdc.dedup import dedup_latest

    ev = load_table(spark, sf_small, "events").select(
        F.col("event_id").alias("lsn"), F.concat(F.lit("u"), F.col("user_id")).alias("doc_id"),
        F.col("value"),
    )
    # struct-buffered max_by plans as SortAggregate; the property that
    # matters is the PARTIAL aggregate running before the exchange —
    # that map-side reduction is what absorbs hot keys
    _partial_max_by_before_exchange(dedup_latest(ev, keys=("doc_id",), order_col="lsn"))
    assert all(e["deltas"] for e in mor_table.meta["buckets"].values())
    _partial_max_by_before_exchange(mor_table.read(spark))


def test_decontamination_broadcasts_eval_side(spark, sf_small):
    """The benchmark side is small by nature — it must broadcast so the
    corpus-side shingles join map-side and the training text never
    shuffles. A SortMergeJoin here would shuffle the whole corpus at
    100 TB for a filter that drops almost nothing."""
    from medallion_etl_spark.operators.dedup_text import (
        decontaminate_against_benchmark,
    )

    p = plan(decontaminate_against_benchmark(spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_training_mix_filter_stays_jvm_side(spark, sf_small):
    """The deterministic md5 keep-filter is pure SQL expression — no
    Python eval node may appear, and the scan must read only the three
    columns the query touches (never the document text)."""
    from medallion_etl_spark.operators.textops import training_mix_sample

    p = plan(training_mix_sample(spark, sf_small))
    assert "EvalPython" not in p  # Batch/ArrowEvalPython = row-path Python
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "source" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema


def test_ngram_jaccard_reuses_persisted_shingles(spark, sf_small):
    """The exploded shingle frame feeds sizes, the DF cap and both
    self-join sides — it must be served from cache (InMemoryTableScan),
    not recomputed ~3x from the documents scan (the same reuse pattern
    minhash pins on its signature frame)."""
    from medallion_etl_spark.operators.dedup_text import ngram_jaccard_topk

    df = ngram_jaccard_topk(spark, sf_small)
    try:
        assert "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()
        assert len(df.collect()) > 0
    finally:
        spark.catalog.clearCache()


def test_repetition_stats_pure_expression_scan(spark, sf_small):
    """The Gopher-rule fractions are per-row expressions: no Python
    eval node, no join, no aggregate — the only exchange allowed is
    the oracle-stable orderBy (plus the small-input spread())."""
    from medallion_etl_spark.operators.repetition import doc_repetition_stats

    p = plan(doc_repetition_stats(spark, sf_small))
    assert "EvalPython" not in p
    assert "Join" not in p
    assert "HashAggregate" not in p and "SortAggregate" not in p


def test_vocab_topk_partial_agg_and_top_heap(spark, sf_small):
    """Corpus vocabulary: the word counts must partial-aggregate
    map-side (shuffle carries (word, count), never the text) and the
    global top-k must plan as TakeOrderedAndProject, not a full sort."""
    from medallion_etl_spark.operators.repetition import vocab_top_words

    p = plan(vocab_top_words(spark, sf_small))
    assert "partial_count" in p
    assert "TakeOrderedAndProject" in p
    assert "GlobalSort" not in p and ", Sort [" not in p


def test_dup_span_shuffles_digests_not_text(spark, sf_small):
    """Every exchange past the window explode must carry (doc_id, md5
    digest) rows only: the K-word windows are hashed BEFORE the
    explode, so at 100 TB the frequency agg and the join-back move
    32-char digests, never the corpus text. The persisted window frame
    must also be reused by both the frequency side and the join-back
    (one text scan, not two)."""
    from medallion_etl_spark.operators.dedup_text import dup_span_stats

    p = plan(dup_span_stats(spark, sf_small), mode="simple")
    # the only plan node allowed to mention the text column is the
    # parquet scan + the pre-persist projection feeding InMemoryRelation
    post = p.split("InMemoryTableScan", 1)[0]
    assert "text#" not in post, post
    assert p.count("InMemoryTableScan") >= 2, "window frame not reused"
    # every FileScan mention is the cached relation's stored definition
    # (printed once under each InMemoryTableScan) — there is no
    # uncached scan outside an InMemoryRelation block
    assert p.count("FileScan parquet") <= p.count("InMemoryRelation")


def test_token_decon_broadcasts_eval_and_shuffles_digests(spark, sf_small):
    """Token-level decontamination mirrors the word-level invariants:
    the eval digest set broadcasts (the corpus probe joins map-side —
    an SMJ would shuffle every corpus n-gram at 100 TB), the persisted
    n-gram frame serves both the bench side and the probe, and no
    exchange carries the text column (windows are md5'd pre-explode)."""
    from medallion_etl_spark.operators.repetition import token_ngram_decontaminate

    p = plan(token_ngram_decontaminate(spark, sf_small), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("InMemoryTableScan") >= 2, "n-gram frame not reused"
    post = p.split("InMemoryTableScan", 1)[0]
    assert "text#" not in post, post


def test_source_token_drift_partial_agg_and_no_text_shuffle(spark, sf_small):
    """The only wide op is the (source, bucket) count — it must have a
    map-side partial aggregation (shuffle carries at most |sources|xB
    count rows), and the token explode projects text away before any
    exchange."""
    from medallion_etl_spark.operators.textops import source_token_drift

    p = plan(source_token_drift(spark, sf_small))
    assert "partial_count" in p or "partial_" in p, "no map-side partial agg"
    assert "EvalPython" not in p
    # text is read (the tokenizer needs it) but never exchanged
    for frag in plan(source_token_drift(spark, sf_small), mode="simple").split(
        "Exchange"
    )[1:]:
        assert "text#" not in frag.splitlines()[0]


def test_split_assignment_is_scan_speed(spark, sf_small):
    """The split is one codegen expression over the scan: no exchange
    other than the oracle-stability sort, no Python, and the scan reads
    only the two columns the query projects (never text)."""
    from medallion_etl_spark.operators.sampling import train_val_test_split

    df = train_val_test_split(spark, sf_small)
    p = plan(df)
    assert "EvalPython" not in p
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "doc_id" in read_schema and "source" in read_schema
    assert "text" not in read_schema
    # exactly the orderBy's range exchange, nothing else
    assert plan(df, mode="simple").count("Exchange") <= 2


def test_approx_percentile_gate_is_one_pruned_pass(spark, sf_small):
    """The bounded-state percentile gate (r5): the sketch AND its
    exact band bounds compute in ONE aggregate pass over a scan that
    reads only n_chars — the single exchange is the 1-row partial-agg
    gather every global aggregate pays. No Python, no text."""
    from medallion_etl_spark.operators.textops import doc_length_percentiles_approx

    df = doc_length_percentiles_approx(spark, sf_small)
    p = plan(df)
    assert "EvalPython" not in p
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "n_chars" in read_schema and "text" not in read_schema
    assert plan(df, mode="simple").count("Exchange") == 1


# ---- LakeTable read path ---------------------------------------------------

_EVENTS = "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"
_DELTAS = 8


def _mor_apply(spark, table, batch_id, lsn0, write_mode="mor"):
    from medallion_etl_spark.cdc.apply import apply_batch
    from medallion_etl_spark.cdc.table import LakeTable

    # 40 keys: every one of the 4 buckets is touched by every batch
    rows = [(lsn0 + i, "U", f"k{i}", [batch_id], 1, "s") for i in range(40)]
    apply_batch(
        spark, table, spark.createDataFrame(rows, _EVENTS),
        batch_id=batch_id, lsn_lo=lsn0, lsn_hi=lsn0 + 39, write_mode=write_mode,
    )
    return LakeTable.load(table.root)


@pytest.fixture(scope="module")
def mor_table(spark, tmp_path_factory):
    """4 buckets, each a base dir plus 8 merge-on-read delta dirs."""
    from medallion_etl_spark.cdc.table import LakeTable

    table = LakeTable.create(str(tmp_path_factory.mktemp("plan_mor") / "t"), n_buckets=4)
    table = _mor_apply(spark, table, 0, 0, write_mode="cow")
    for b in range(1, _DELTAS + 1):
        table = _mor_apply(spark, table, b, 100 * b)
    assert [len(e["deltas"]) for e in table.meta["buckets"].values()] == [_DELTAS] * 4
    return table


@contextlib.contextmanager
def _spark_jobs(spark):
    """Collects the ids of the Spark jobs the body launched."""
    sc = spark.sparkContext
    group = "plan-shape-pin"
    sc.setJobGroup(group, "jobs launched while planning a read")
    ids: list[int] = []
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.smoke
def test_mor_read_is_one_parquet_scan_per_schema_version(spark, mor_table):
    """36 source dirs (4 buckets x (base + 8 deltas)), one schema
    version: the folding read and the COW merge's raw base read each
    plan ONE parquet scan, not one per delta ordinal."""
    svs = {
        s["schema_version"]
        for e in mor_table.meta["buckets"].values()
        for s in [e, *e["deltas"]]
    }
    assert svs == {mor_table.schema_version}
    for df in (
        mor_table.read(spark),
        mor_table.read(spark, raw=True, merge_deltas=False),
        mor_table.read(spark, columns=["source"]),
    ):
        assert plan(df, mode="simple").count("FileScan parquet") == len(svs)
    # the fold still reaches every ordinal: the newest delta wins
    assert {r["tokens"][0] for r in mor_table.read(spark).collect()} == {_DELTAS}


@pytest.mark.smoke
def test_building_a_read_launches_no_spark_job(spark, mor_table):
    """File listing of the 36 dirs runs on the driver (session conf
    parallelPartitionDiscovery.threshold), and a string-key lookup
    computes its bucket ids on the driver: planning costs no job."""
    with _spark_jobs(spark) as jobs:
        mor_table.read(spark)
        mor_table.read(spark, raw=True, merge_deltas=False)
        mor_table.lookup(spark, ["k1", "k2", "nope"])
    assert jobs == []


@pytest.mark.smoke
def test_default_mor_apply_plans_one_exchange_over_the_chunk(spark, mor_table, monkeypatch):
    """apply_batch's shipped dedup strategy (agg) reduces the chunk in
    ONE shuffle before the delta append; salted would plan two."""
    from pyspark.sql.readwriter import DataFrameWriter

    from medallion_etl_spark.cdc.apply import apply_batch
    from medallion_etl_spark.cdc.table import LakeTable

    written = []
    real_parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *args, **kwargs):
        written.append(self._df)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    clone = mor_table.clone_to(mor_table.root + "-exchange-pin")
    rows = [(10_000 + i, "U", f"k{i}", [99], 1, "s") for i in range(40)]
    res = apply_batch(
        spark, clone, spark.createDataFrame(rows, _EVENTS),
        batch_id=99, lsn_lo=10_000, lsn_hi=10_039, write_mode="mor",
    )
    assert res["write_mode"] == "mor"
    assert len(written) == 1
    assert plan(written[0], mode="simple").count("Exchange") == 1
    assert {r["tokens"][0] for r in LakeTable.load(clone.root).read(spark).collect()} == {99}


# Higher-order-function lambdas run interpreted and Catalyst shares no
# subexpression across or inside them, so a lambda that reads an outer
# row expression re-evaluates it per element. Each operator below binds
# its words / shingle arrays once with functions/exprs.let; these pins
# fail if a rewrite (or an optimizer rule) inlines the array back into
# a lambda or a second reduction.


def _most_in_one_node(df, needle: str) -> tuple[int, int]:
    """(largest count of ``needle`` in one Project/Generate node, number
    of such nodes mentioning it) in the optimized logical plan,
    persisted relations' stored plans included."""
    p = df._jdf.queryExecution().optimizedPlan().toString()
    counts = [
        line.count(needle)
        for line in p.splitlines()
        if "Project [" in line or "Generate " in line
    ]
    return max(counts, default=0), sum(1 for c in counts if c)


_BOUND_WORDS_QUERIES = [
    "minhash_near_dup_pairs",
    "ngram_jaccard_topk",
    "decontaminate_against_benchmark",
    "simhash_clusters",
    "dup_span_stats",
    "dup_span_removal",
    "doc_fingerprint",
    "doc_repetition_stats",
    "lang_id_ngram",
]


@pytest.mark.smoke
@pytest.mark.parametrize("name", _BOUND_WORDS_QUERIES)
def test_word_split_is_bound_once_per_projection(spark, sf_small, name):
    from medallion_etl_spark.operators import collect_queries

    fn, _ = collect_queries()[name]
    try:
        most, nodes = _most_in_one_node(fn(spark, sf_small), "split(lower(text")
    finally:
        spark.catalog.clearCache()
    assert nodes >= 1
    assert most == 1, f"{name}: a projection splits the text {most} times"


@pytest.mark.smoke
def test_token_minhash_binds_the_token_strings_once(spark):
    from medallion_etl_spark.operators.dedup_incremental import token_minhash

    df = spark.createDataFrame([([1, 2, 3, 4],)], "tokens array<int>")
    sig = df.select(token_minhash(F.col("tokens")).alias("mh"))
    assert _most_in_one_node(sig, "transform(tokens") == (1, 1)
