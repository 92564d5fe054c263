"""LWW dedup: the engine's one max-LSN-per-key reduction produces the
oracle-correct result on a skewed stream."""

from __future__ import annotations

import pandas as pd
import pytest

from medallion_etl_spark.cdc.dedup import dedup_latest
from medallion_etl_spark.synth import gen_events

from .cdc_oracle import canon

pytestmark = pytest.mark.smoke


@pytest.fixture(scope="module")
def events(spark):
    df = gen_events(spark, n_events=5_000, n_keys=400, hot_fraction=0.3, n_hot=3, seed=11)
    df.cache().count()
    return df


def _oracle_latest(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values("lsn").drop_duplicates("doc_id", keep="last")


def test_dedup_matches_oracle(spark, events):
    got = dedup_latest(events).toPandas()
    exp = _oracle_latest(events.toPandas())
    g = canon(got[["doc_id", "tokens", "n_tok", "source", "lang"]])
    e = canon(exp[["doc_id", "tokens", "n_tok", "source", "lang"]])
    assert len(g) == len(e)
    assert g["doc_id"].tolist() == e["doc_id"].tolist()
    assert g["tokens"].tolist() == e["tokens"].tolist()
    # lsn of the surviving row must be the key's max
    got_lsn = got.set_index("doc_id")["lsn"].to_dict()
    exp_lsn = exp.set_index("doc_id")["lsn"].to_dict()
    assert got_lsn == exp_lsn


def test_hot_keys_present(events):
    """The generator actually produces the hot-key skew the dedup's
    map-side partial aggregate absorbs."""
    counts = events.groupBy("doc_id").count().toPandas().set_index("doc_id")["count"]
    hot = counts[counts.index.str.startswith("hot-")]
    cold = counts[counts.index.str.startswith("doc-")]
    assert len(hot) > 0 and hot.min() > cold.max() * 5
