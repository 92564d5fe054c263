"""Incremental MinHash signature maintenance over the change feed
(operators/dedup_incremental.py): after any sequence of refreshes the
signature table must equal a full recompute from the corpus's current
state, refreshes must be exactly-once, and the changed-docs candidate
probe must match the full batch probe restricted to the changed set."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.operators.dedup_incremental import (
    create_signature_table,
    incremental_candidates,
    refresh_signatures,
    token_minhash,
)
from medallion_etl_spark.operators.dedup_text import N_HASHES
from medallion_etl_spark.synth import gen_events

N_EVENTS = 4000
N_KEYS = 300


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """Corpus replayed in two spans; signatures refreshed after each:
    bootstrap (since v0, i.e. the full feed) then incremental."""
    root = str(tmp_path_factory.mktemp("inc") / "corpus")
    sroot = str(tmp_path_factory.mktemp("inc") / "sig")
    events = gen_events(
        spark, n_events=N_EVENTS, n_keys=N_KEYS, with_evolution=False
    ).persist()
    corpus = LakeTable.create(root, n_buckets=8, schema_version=2)
    sig = create_signature_table(sroot, n_buckets=8)

    replay(spark, events, corpus, chunk_size=N_EVENTS // 2, max_batches=1)
    corpus = LakeTable.load(root)
    v_mid = corpus.version
    refresh_signatures(spark, corpus, sig, since_version=0)
    sig = LakeTable.load(sroot)

    replay(spark, events, corpus, chunk_size=N_EVENTS // 2)  # resumes the tail
    corpus = LakeTable.load(root)
    refresh_signatures(spark, corpus, sig, since_version=v_mid)
    events.unpersist()
    return {
        "corpus": LakeTable.load(root),
        "sig": LakeTable.load(sroot),
        "v_mid": v_mid,
    }


def _sig_state(spark, sig):
    return {
        r["doc_id"]: tuple(r["mh"]) for r in sig.read(spark).collect()
    }


def _full_recompute(spark, corpus):
    rows = (
        corpus.read(spark)
        .select("doc_id", token_minhash(F.col("tokens")).alias("mh"))
        .collect()
    )
    return {r["doc_id"]: tuple(r["mh"]) for r in rows}


def _py_token_minhash(tokens):
    """Independent stdlib reference of token_minhash: tokens render as
    decimal strings, word 3-gram shingles (a sequence shorter than 3 is
    one shingle of all its tokens; NULL signs like the empty sequence),
    md5 hex digests deduplicated, then per hash i the min over shingles
    of md5("<i>|" + shingle)."""
    words = [str(t) for t in tokens or []]
    if len(words) >= 3:
        grams = [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
    else:
        grams = [" ".join(words)]
    shingles = {hashlib.md5(g.encode()).hexdigest() for g in grams}
    return tuple(
        min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in shingles)
        for i in range(N_HASHES)
    )


TOKEN_SEQS = {
    "empty": [],
    "one": [7],
    "two": [7, -3],
    "three": [7, -3, 12],
    # repeated 3-grams (the 0,1,2 cycle and a run of 5s), negative ids
    "forty": [0, 1, 2] * 6 + [5] * 8 + [-(j * 37) for j in range(14)],
    "null": None,
}


def test_token_minhash_matches_stdlib_reference(spark):
    """token_minhash digest-for-digest against a pure-Python md5 fold,
    so the expression is checked against something other than itself."""
    df = spark.createDataFrame(
        list(TOKEN_SEQS.items()), "name string, tokens array<int>"
    )
    got = {
        r["name"]: tuple(r["mh"])
        for r in df.select("name", token_minhash(F.col("tokens")).alias("mh")).collect()
    }
    assert got == {name: _py_token_minhash(t) for name, t in TOKEN_SEQS.items()}
    assert len(set(got["forty"])) > 1


def test_incremental_equals_full_recompute(spark, built):
    got = _sig_state(spark, built["sig"])
    exp = _full_recompute(spark, built["corpus"])
    assert got == exp
    assert len(got) > 0  # deletes tombstoned, live docs present


def test_refresh_is_exactly_once(spark, built):
    corpus, sig = built["corpus"], built["sig"]
    before = sig.version
    # redelivery of the SAME span: manifest no-op, no new version
    out = refresh_signatures(spark, corpus, sig, since_version=built["v_mid"])
    assert out.get("skipped") is True
    assert LakeTable.load(sig.root).version == before
    # same target version re-presented as a DIFFERENT span must raise
    with pytest.raises(RuntimeError, match="batch-id collision"):
        refresh_signatures(spark, corpus, sig, since_version=0)


def test_noop_when_already_current(spark, built):
    out = refresh_signatures(
        spark, built["corpus"], built["sig"], since_version=built["corpus"].version
    )
    assert out.get("skipped_empty") is True




@pytest.fixture(scope="module")
def dup_built(spark, tmp_path_factory):
    """A corpus CRAFTED to contain near-duplicates (gen_events tokens
    are random, so real band collisions are vanishingly rare there):
    dup-a == dup-b exactly; sim-a shares most of its shingles with
    both; the r* docs are unrelated filler. changed = the second wave
    (dup-b, sim-a, r9)."""
    from medallion_etl_spark.schemas import EVENTS_SCHEMA

    base = list(range(40))
    rows = [(1, "dup-a", base), (2, "sim-a0", base[:35] + [99, 98, 97, 96, 95])]
    rows += [(10 + i, f"r{i}", [1000 * i + j * 7 for j in range(30)]) for i in range(9)]
    wave2 = [(100, "dup-b", base), (101, "sim-a", base[:36] + [99, 98, 97, 96]),
             (102, "r9", [9000 + j * 11 for j in range(30)])]

    def ev_df(rs):
        return spark.createDataFrame(
            [(lsn, "U", d, t, len(t), "s", None, 2) for lsn, d, t in rs],
            EVENTS_SCHEMA,
        )

    root = str(tmp_path_factory.mktemp("dup") / "corpus")
    corpus = LakeTable.create(root, n_buckets=4, schema_version=2)
    sig = create_signature_table(str(tmp_path_factory.mktemp("dup") / "sig"), n_buckets=4)
    from medallion_etl_spark.cdc.apply import apply_batch

    apply_batch(spark, corpus, ev_df(rows), batch_id=0, lsn_lo=0, lsn_hi=99)
    corpus = LakeTable.load(root)
    v1 = corpus.version
    refresh_signatures(spark, corpus, sig, since_version=0)
    apply_batch(spark, LakeTable.load(root), ev_df(wave2), batch_id=1, lsn_lo=100, lsn_hi=199)
    corpus = LakeTable.load(root)
    refresh_signatures(spark, corpus, LakeTable.load(sig.root), since_version=v1)
    changed = corpus.read_changes(spark, v1).select("doc_id").distinct()
    return {"sig": LakeTable.load(sig.root), "changed": changed}


def test_candidates_match_full_probe_on_changed_docs(spark, dup_built):
    sig, changed = dup_built["sig"], dup_built["changed"]
    got = {
        tuple(r) for r in incremental_candidates(spark, sig, changed).collect()
    }
    assert len(got) > 0
    # full probe = every doc as "changed", then restrict to the set
    all_keys = sig.read(spark).select("doc_id")
    changed_set = {r["doc_id"] for r in changed.collect()}
    full = {
        tuple(r)
        for r in incremental_candidates(spark, sig, all_keys).collect()
        if r[0] in changed_set
    }
    assert got == full


def test_deleted_docs_leave_no_signature(spark, built):
    corpus, sig = built["corpus"], built["sig"]
    live = {r["doc_id"] for r in corpus.read(spark).select("doc_id").collect()}
    sig_keys = set(_sig_state(spark, sig))
    assert sig_keys == live


def test_probe_broadcasts_changed_side_only(spark, built):
    """The standing signature table must never shuffle for a probe:
    the changed side broadcasts, so the join is BroadcastHashJoin with
    no SortMergeJoin/Exchange on the big side before the join."""
    corpus, sig = built["corpus"], built["sig"]
    changed = corpus.read_changes(spark, built["v_mid"]).select("doc_id").distinct()
    plan = (
        incremental_candidates(spark, sig, changed)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_custom_schema_bootstrap_validation(tmp_path):
    import pyspark.sql.types as T

    with pytest.raises(ValueError, match="not in the bootstrap"):
        LakeTable.create(
            str(tmp_path / "a"),
            schema_version=2,
            schemas={1: T.StructType([T.StructField("doc_id", T.StringType())])},
        )
    with pytest.raises(ValueError, match="key column"):
        LakeTable.create(
            str(tmp_path / "b"),
            schema_version=1,
            schemas={1: T.StructType([T.StructField("other", T.StringType())])},
        )


def test_streaming_refresh_follows_the_corpus(spark, built, tmp_path):
    """A lake_feed-driven streaming drain maintains the SAME state the
    batch refreshes produced: bootstrap a second signature table purely
    from the stream, compare, then verify a re-drain is a no-op
    (checkpoint + manifest exactly-once)."""
    from medallion_etl_spark.operators.dedup_incremental import (
        stream_refresh_signatures,
    )

    corpus = built["corpus"]
    sroot = str(tmp_path / "sig_stream")
    ckpt = str(tmp_path / "ckpt")
    create_signature_table(sroot, n_buckets=8)
    # availableNow + a version cap drains ONE bounded batch per run
    # (feed_source.py docstring), so the full bootstrap drain runs
    # uncapped; backpressure pacing itself is test_feed_backpressure's
    # job.
    totals = stream_refresh_signatures(spark, corpus.root, sroot, ckpt)
    assert totals["epochs"] >= 1
    got = _sig_state(spark, LakeTable.load(sroot))
    assert got == _sig_state(spark, built["sig"])
    # second drain from the same checkpoint: nothing new
    v = LakeTable.load(sroot).version
    stream_refresh_signatures(spark, corpus.root, sroot, ckpt)
    assert LakeTable.load(sroot).version == v


def test_bootstrap_snapshot_path_and_empty_span_cursor(spark, tmp_path):
    """The review-found lifecycle bugs: (1) first fill of a signature
    table must work on a MATURE corpus whose feed-from-v0 the
    retention gate refuses (post-compaction tombstone purge); (2) a
    net-empty refresh span must still commit its batch so the CLI
    cursor advances past compaction-only versions; (3) bootstrap
    refuses a non-empty table."""
    from medallion_etl_spark.operators.dedup_incremental import (
        bootstrap_signatures,
    )

    root = str(tmp_path / "corpus")
    events = gen_events(spark, n_events=1500, n_keys=120, with_evolution=False)
    corpus = LakeTable.create(root, n_buckets=4, schema_version=2)
    replay(spark, events, corpus, chunk_size=1500)
    corpus = LakeTable.load(root)
    corpus.compact(spark, watermark_lsn=1499)  # purges tombstones
    corpus = LakeTable.load(root)
    assert int(corpus.meta["compaction_watermark_lsn"]) > 0

    # (1) the snapshot bootstrap works on the compacted corpus (and
    # since the empty-snapshot retention exemption, the v0 feed is
    # ALSO legal here — purged tombstones are net-zero from empty;
    # the snapshot path remains the API because it additionally
    # survives a RESTORE, which no feed can)
    assert corpus.read_changes(spark, since_version=0).count() > 0
    sig = create_signature_table(str(tmp_path / "sig"), n_buckets=4)
    out = bootstrap_signatures(spark, corpus, sig)
    assert out["rows_applied"] > 0
    sig = LakeTable.load(sig.root)
    assert _sig_state(spark, sig) == _full_recompute(spark, corpus)

    # (3) bootstrap refuses a non-empty table
    with pytest.raises(ValueError, match="empty signature table"):
        bootstrap_signatures(spark, corpus, sig)

    # (2) compaction-only span: net-empty refresh still commits,
    # advancing the manifest cursor to the corpus HEAD version
    v_before = corpus.version
    corpus.compact(spark, watermark_lsn=1499)
    corpus = LakeTable.load(root)
    assert corpus.version == v_before + 1
    out = refresh_signatures(spark, corpus, sig, since_version=v_before)
    assert int(out.get("rows_applied", 0)) == 0 and not out.get("skipped_empty")
    sig = LakeTable.load(sig.root)
    assert corpus.version in sig.committed_batches()


def test_candidates_changed_sigs_path_matches_keys_path(spark, dup_built):
    """Passing the fresh signatures directly (the refresh just
    computed them) must produce the same candidates as the key-probe
    path, without a second read of the signature table. An exact
    duplicate pair must surface with every band shared and est 1.0."""
    sig, changed = dup_built["sig"], dup_built["changed"]
    via_keys = {
        tuple(r) for r in incremental_candidates(spark, sig, changed).collect()
    }
    fresh = sig.read(spark).join(changed, "doc_id", "semi")
    via_sigs = {
        tuple(r)
        for r in incremental_candidates(spark, sig, changed_sigs=fresh).collect()
    }
    assert via_keys == via_sigs and len(via_keys) > 0
    from medallion_etl_spark.operators.dedup_text import N_BANDS

    assert ("dup-b", "dup-a", N_BANDS, 1.0) in via_keys
    with pytest.raises(ValueError, match="exactly one"):
        incremental_candidates(spark, sig)


# ---------------------------------------------------------------------------
# Property: signature refreshes over ANY span partition of the corpus
# version history, applied in ANY order (with redelivery), converge to
# the full recompute — the "idempotent and order-independent like any
# other batch" claim in refresh_signatures's docstring, adversarially.

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PKEYS = [f"k{i}" for i in range(5)]

_events_strategy = st.lists(
    st.tuples(st.sampled_from(range(len(_PKEYS))), st.sampled_from(["U", "U", "U", "D"])),
    min_size=4,
    max_size=20,
)


@settings(
    # 4 random (event-list, span-partition, order) draws per run: the
    # property is order-INSENSITIVITY, and each example already
    # exercises several spans; 8 examples measured 2x the suite cost
    # for no extra shrink diversity
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_events_strategy, data=st.data())
def test_any_refresh_span_order_converges(spark, tmp_path_factory, events, data):
    from medallion_etl_spark.cdc.apply import apply_batch
    from medallion_etl_spark.schemas import EVENTS_SCHEMA

    tmp = tmp_path_factory.mktemp("sigprop")
    corpus = LakeTable.create(str(tmp / "c"), n_buckets=2, schema_version=2)
    sig = create_signature_table(str(tmp / "s"), n_buckets=2)

    n = len(events)
    rows = [
        (lsn, op, _PKEYS[ki], None if op == "D" else [lsn, ki, 7],
         None if op == "D" else 3, None if op == "D" else "s", None, 2)
        for lsn, (ki, op) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)

    # replay in C chunks -> corpus versions 1..C
    cuts = data.draw(
        st.lists(st.integers(min_value=1, max_value=max(n - 1, 1)), max_size=2).map(
            lambda xs: sorted(set(xs))
        )
    )
    bounds = [0, *[c for c in cuts if c < n], n]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        chunk = df.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        apply_batch(spark, corpus, chunk, batch_id=i, lsn_lo=lo, lsn_hi=hi - 1)
        corpus = LakeTable.load(corpus.root)
    n_versions = corpus.version

    # random span partition of [0, n_versions], random application order
    vcuts = data.draw(
        st.lists(
            st.integers(min_value=1, max_value=max(n_versions - 1, 1)), max_size=2
        ).map(lambda xs: sorted(set(xs)))
    )
    vb = [0, *[c for c in vcuts if c < n_versions], n_versions]
    spans = list(zip(vb, vb[1:]))
    order = data.draw(st.permutations(spans))
    redeliver = data.draw(st.booleans())
    for lo_v, hi_v in order:
        handle = LakeTable.load_version(corpus.root, hi_v)
        refresh_signatures(spark, handle, LakeTable.load(sig.root), since_version=lo_v)
        if redeliver:
            refresh_signatures(
                spark, handle, LakeTable.load(sig.root), since_version=lo_v
            )

    got = _sig_state(spark, LakeTable.load(sig.root))
    assert got == _full_recompute(spark, corpus)


def test_ddl_on_custom_schema_table_keeps_refreshes_working(spark, tmp_path):
    """Schema evolution is metadata-driven, so it must work on a
    CUSTOM-schema table too: add a column to the signature table
    mid-life, keep refreshing at the old stream schema version, and
    read old+new files aligned (old rows surface NULL)."""
    root = str(tmp_path / "corpus")
    events = gen_events(spark, n_events=1000, n_keys=80, with_evolution=False)
    corpus = LakeTable.create(root, n_buckets=4, schema_version=2)
    replay(spark, events, corpus, chunk_size=500, max_batches=1)
    corpus = LakeTable.load(root)
    v_mid = corpus.version

    sig = create_signature_table(str(tmp_path / "sig"), n_buckets=4)
    refresh_signatures(spark, corpus, sig, since_version=0)

    sig = LakeTable.load(sig.root)
    ddl = sig.add_column("model", "string")
    assert ddl["schema_version"] == 2

    replay(spark, events, LakeTable.load(root), chunk_size=500)
    corpus = LakeTable.load(root)
    refresh_signatures(spark, corpus, LakeTable.load(sig.root), since_version=v_mid)

    sig = LakeTable.load(sig.root)
    got = sig.read(spark)
    assert "model" in got.columns
    rows = got.collect()
    assert len(rows) > 0 and all(r["model"] is None for r in rows)
    mh_state = {r["doc_id"]: tuple(r["mh"]) for r in rows}
    assert mh_state == _full_recompute(spark, corpus)
