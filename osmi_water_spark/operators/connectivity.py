"""Stage D — J3/A1-A5/E1: endpoint connectivity analysis.

The reference's ``node_map`` (endpoint -> connected ways,
/root/reference/src/datastorage.hpp:203-210) + ``analyse_nodes``
(/root/reference/src/waterway.hpp:369-404) become one unpivot + one hash
aggregate — partial aggregation (map-side combine) comes free from
Catalyst; the groupBy key is the node id, so the shuffle is one exchange
of (node_id, small payload) pairs regardless of way fan-in.

Multiplicity semantics replicated exactly: every remembered way row emits
an entry for its first node AND its last node; each entry then contributes
to count_first/names/category_out when the entry node equals the way's
first node and to count_last/names/category_in when it equals the last
node — so a closed way (first==last) contributes 2 to both counts and 4
names at that node, exactly like the reference's double push_back +
double-if loop (datastorage.hpp:208-209, waterway.hpp:381-393).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmi_water_spark.functions import errors as E


def node_stats(remembered: DataFrame) -> DataFrame:
    """remembered(first_node, last_node, name, category) -> per-node A1
    aggregate: counts, name multiset, max in/out categories."""
    # selectExpr/F.expr text (see error_mask): identical trees, one parse
    # per expression instead of per-operator py4j chatter
    entries = remembered.select(
        "first_node", "last_node", "name", "category",
        F.expr("explode(array(first_node, last_node))").alias("node_id"),
    ).selectExpr(
        "node_id",
        "CAST(node_id = first_node AS INT) AS cf",
        "CAST(node_id = last_node AS INT) AS cl",
        "name",
        "category",
    )
    # A4 needs only (multiset size == 2) AND (>= 2 distinct values), so the
    # name multiset is reduced to two SCALAR aggregates instead of a
    # collect_list array per node: n_names = sum of multiplicities,
    # multi_names = min(name) != max(name). Verified row-identical to the
    # array formulation via exceptAll both ways at sf1.0, and it is what
    # the DuckDB j3 oracle computes (count(DISTINCT name)-style null
    # handling; names are non-null by the name_or_empty contract).
    # Scale effect: the shuffle carries fixed-width partials instead of
    # unbounded name arrays, and the aggregate stays a codegen
    # HashAggregate instead of ObjectHashAggregate (collect_list forces
    # the object-based path) — guide §2.3 "aggregate before you shuffle".
    return entries.groupBy("node_id").agg(
        F.expr("sum(cf)").alias("count_first"),
        F.expr("sum(cl)").alias("count_last"),
        F.expr("sum(cf + cl)").alias("n_names"),
        F.expr("coalesce(min(name) != max(name), false)").alias("multi_names"),
        F.expr("max(CASE WHEN cl = 1 THEN category END)").alias("max_in"),  # A2
        F.expr("max(CASE WHEN cf = 1 THEN category END)").alias("max_out"),
    )


def error_mask(stats: DataFrame) -> DataFrame:
    """A3-A5 + E1 -> integer mask column, preserving the reference's
    overwrite semantics (set_poss_* replaces direction/name bits,
    errorsum.hpp:53-59) and branch order (waterway.hpp:395-397)."""
    # one SQL-text expression (single F.expr parse) instead of ~50 Column
    # ops' py4j round-trips at DAG-construction time — identical tree and
    # null semantics (A3: waterway.hpp:71-77, A4: :82-88, A5: :102-133);
    # values pinned by the j3_connectivity oracle + worlds parity
    direction = "((abs(count_first - count_last) > 1) AND (count_first = 0 OR count_last = 0))"
    name_err = "((n_names = 2) AND multi_names)"
    base = f"(CAST({direction} AS INT) * {E.DIRECTION} + CAST({name_err} AS INT) * {E.NAME})"
    both = "((count_last > 0) AND (count_first > 0))"
    type_err = f"({both} AND max_in = 'C' AND max_out < 'C' AND max_out != '?')"
    one_in = f"((NOT {both}) AND count_last = 1)"
    one_out = f"((NOT {both}) AND (NOT {one_in}) AND count_first = 1)"
    mask = F.expr(
        f"CASE WHEN {one_in} AND max_in = 'C' THEN {E.POSS_RIVERMOUTH + E.RIVER} "
        f"WHEN {one_in} AND max_in = 'B' THEN {E.POSS_RIVERMOUTH + E.STREAM} "
        f"WHEN {one_out} AND max_out = 'C' THEN {E.POSS_OUTFLOW + E.RIVER} "
        f"WHEN {one_out} AND max_out = 'B' THEN {E.POSS_OUTFLOW + E.STREAM} "
        f"ELSE {base} + CAST({type_err} AS INT) * {E.TYPE} END"
    )
    return stats.select("node_id", mask.alias("mask"))

