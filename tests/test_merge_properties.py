"""Property-based convergence: for ANY event stream, ANY chunking and
ANY application order (with redeliveries), the merged table equals the
per-key LWW oracle. Complements the fixed-scenario CDC tests with
hypothesis-generated adversarial cases (duplicate keys, delete-then-
stale-update, hot keys, single-event chunks)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable

KEYS = [f"k{i}" for i in range(5)]


events_strategy = st.lists(
    st.tuples(st.sampled_from(range(len(KEYS))), st.sampled_from(["U", "U", "U", "D"])),
    min_size=1,
    max_size=24,
)


def _oracle(events: list[tuple[int, str]]) -> dict[str, int]:
    last: dict[str, tuple[int, str]] = {}
    for lsn, (ki, op) in enumerate(events):
        last[KEYS[ki]] = (lsn, op)
    return {k: lsn for k, (lsn, op) in last.items() if op != "D"}


@settings(
    # 6 random (chunking, order) draws per run — each example replays
    # every chunk, so this is 6 full convergence scenarios; 12 doubled
    # the wall for the same property
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy, data=st.data())
def test_any_chunking_any_order_converges(spark, tmp_path_factory, events, data):
    n = len(events)
    # random chunk boundaries over [0, n), then a random application order
    cuts = data.draw(
        st.lists(st.integers(min_value=1, max_value=max(n - 1, 1)), max_size=3).map(
            lambda xs: sorted(set(xs))
        )
    )
    bounds = [0, *[c for c in cuts if c < n], n]
    chunks = [
        (i, lo, hi - 1) for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])) if hi > lo
    ]
    order = data.draw(st.permutations(chunks))
    redeliver = data.draw(st.booleans())
    # each chunk independently COW or merge-on-read: convergence must
    # hold over ANY interleaving of the two write paths
    modes = data.draw(
        st.lists(
            st.sampled_from(["cow", "mor"]),
            min_size=len(order),
            max_size=len(order),
        )
    )

    rows = [
        (lsn, op, KEYS[ki], [lsn], 1, "s", None, 1)
        for lsn, (ki, op) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, "
        "source string, lang string, schema_version int",
    )
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("prop") / "t")
    table = LakeTable.create(root, n_buckets=4, schema_version=1)
    for (bid, lo, hi), mode in zip(order, modes):
        chunk = df.filter(F.col("lsn").between(lo, hi))
        apply_batch(
            spark, table, chunk, batch_id=bid, lsn_lo=lo, lsn_hi=hi,
            write_mode=mode,
        )
        table = LakeTable.load(root)
        if redeliver:  # at-least-once source: same batch again is a no-op
            res = apply_batch(
                spark, table, chunk, batch_id=bid, lsn_lo=lo, lsn_hi=hi,
                write_mode=mode,
            )
            assert res.get("skipped")

    got = {r["doc_id"]: r["tokens"][0] for r in table.read(spark).collect()}
    assert got == _oracle(events)
