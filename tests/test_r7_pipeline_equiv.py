"""Round-7 optimization equivalence pins.

The r7 plan changes must be invisible at the value level:
1. resolve()'s `mentions` (lazy explode of the cached per-turn arrays)
   is row-identical to the direct mentions_from_turns table.
2. resolve()'s single-broadcast-probe mention_clusters is row-identical
   to the former two-join shape (apply_aliases -> inner join clusters).
3. the labels stage (normalized_labels_from_arrays) is row-identical to
   the classic per-mention form kept here as the reference: apply_aliases
   on every mention row, exact countDistinct(conv_id), canonical
   whitelist + L2, slug block key.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from session_graph_spark import corpus
from session_graph_spark.functions.filters import is_linkable_entity
from session_graph_spark.functions.normalize import apply_aliases, slug
from session_graph_spark.plans.pipeline import (MIN_SESSIONS, alias_df,
                                                mention_arrays_from_turns,
                                                mentions_from_turns,
                                                normalized_labels_from_arrays,
                                                prepare_turns, resolve)
from session_graph_spark.operators.extract import explode_mention_arrays


@pytest.fixture(scope="module")
def turns(spark):
    return corpus.generate_turns(spark, n_convs=400, seed=11)


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def normalized_labels(mentions, aliases, min_sessions=MIN_SESSIONS):
    """The classic labels form: alias join on every mention row, exact
    distinct session count, canonical whitelist + L2, slug block key."""
    counts = (
        apply_aliases(mentions.select("conv_id", "norm_label"), aliases,
                      label_col="norm_label", out_col="canon_label")
        .groupBy("canon_label")
        .agg(F.countDistinct("conv_id").alias("n_sessions"))
        .where(F.col("n_sessions") >= min_sessions)
    )
    canon = [r[0] for r in aliases.select("canonical").distinct().collect()]
    return (
        counts.where(is_linkable_entity(F.col("canon_label"))
                     | F.col("canon_label").isin(canon))
        .withColumn("block_key", slug("canon_label"))
    )


def test_array_cache_explode_equals_direct_mentions(spark, turns):
    t = prepare_turns(turns)
    direct = mentions_from_turns(t)
    via_arrays = explode_mention_arrays(mention_arrays_from_turns(t))
    assert via_arrays.columns == direct.columns
    assert _rows(via_arrays) == _rows(direct)


def test_labels_from_arrays_equals_classic(spark, turns):
    t = prepare_turns(turns)
    aliases = alias_df(spark)
    classic = normalized_labels(mentions_from_turns(t), aliases)
    via_arrays = normalized_labels_from_arrays(
        mention_arrays_from_turns(t), aliases)
    assert via_arrays.columns == classic.columns
    assert _rows(via_arrays) == _rows(classic)


def test_labels_from_arrays_custom_and_empty_alias_dim(spark, turns):
    t = prepare_turns(turns)
    for rows in ([("k8s", "kubernetes"), ("js", "javascript")], []):
        aliases = spark.createDataFrame(rows, "surface string, canonical string")
        classic = normalized_labels(mentions_from_turns(t), aliases)
        via_arrays = normalized_labels_from_arrays(
            mention_arrays_from_turns(t), aliases)
        assert _rows(via_arrays) == _rows(classic)


def test_labels_from_arrays_large_alias_dim(spark, turns):
    """A 12,000-row alias table plus two surfaces the corpus does
    contain: at a dictionary size no plan literal should carry, the
    labels stage must still give the reference's rows."""
    t = prepare_turns(turns)
    rows = [(f"zzsurface{i:05d}", f"zzcanon{i % 997:03d}") for i in range(12_000)]
    rows += [("k8s", "kubernetes"), ("js", "javascript")]
    aliases = spark.createDataFrame(rows, "surface string, canonical string")
    classic = normalized_labels(mentions_from_turns(t), aliases)
    via_arrays = normalized_labels_from_arrays(
        mention_arrays_from_turns(t), aliases)
    assert via_arrays.columns == classic.columns
    assert _rows(via_arrays) == _rows(classic)


def test_mention_clusters_single_probe_equals_two_join(spark, turns):
    res = resolve(spark, turns)
    aliases = alias_df(spark)
    reference = (
        apply_aliases(res.mentions, aliases, label_col="norm_label",
                      out_col="canon_label")
        .join(res.clusters, F.col("canon_label") == F.col("label"), "inner")
        .drop("label")
    )
    assert res.mention_clusters.columns == reference.columns
    assert _rows(res.mention_clusters) == _rows(reference)
    res.unpersist()
