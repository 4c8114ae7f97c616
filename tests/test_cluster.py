"""Cluster operator tests: the connected-components labeling that
``cluster.dbscan_grid`` runs on its core-cell graph."""

from __future__ import annotations

from rgr_pdal_topo_spark.operators import cluster


def test_duplicate_components_chain_and_clique(spark):
    """Component labeling: a 4-chain (needs propagation across hops), a
    3-clique, and an isolated pair all resolve to min-doc_id clusters;
    docs not in any pair are not emitted."""
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13),   # chain 10-11-12-13
         (5, 6), (6, 7), (5, 7),         # clique {5,6,7}
         (2, 9)],                        # pair
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster
        for r in cluster.duplicate_components(pairs).collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 13: 10,
                   5: 5, 6: 5, 7: 5, 2: 2, 9: 2}
