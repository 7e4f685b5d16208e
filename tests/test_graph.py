"""Plan tests of the graph operators (``operators/graph.py``)."""

from bigarrays_jl_spark.operators.graph import graph_triangle_stats
from bigarrays_jl_spark.plans.explain import formatted_plan
from tools.profile_query import plan_nodes


def test_triangle_stats_self_joins_read_one_edge_table(spark, sf_dir):
    # the wedge join and the closing join take all three sides from one
    # exchange of the undirected edge table (two ReusedExchanges), and
    # the degree census adds one more read of the cached k-NN edges: two
    # scans of the cached table in all, none of the corpus
    df = graph_triangle_stats(spark, sf_dir)
    df.collect()
    names = plan_nodes(formatted_plan(df))
    assert "Scan parquet" not in names, names
    assert names.count("Scan ExistingRDD") == 2, names
    assert names.count("ReusedExchange") >= 2, names
