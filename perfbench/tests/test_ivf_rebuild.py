import numpy as np

from perfbench.workloads import ivf_rebuild


def test_rebuild_assigns_nearest_centroid_and_keeps_mutual_pairs():
    vecs = np.array([[1.0, 0.0], [0.9, 0.1], [0.8, 0.3], [0.0, 1.0], [0.1, 0.9]], dtype=np.float32)
    ids = np.array([10, 11, 12, 20, 21])
    cents = [[1_000_000, 0], [0, 1_000_000]]
    assign, edges = ivf_rebuild(ids, vecs, cents, [0, 1], top_k=1)
    assert assign == {10: 0, 11: 0, 12: 0, 20: 1, 21: 1}
    # 10 and 11 are each other's nearest; 12's nearest is 11, not mutual
    assert edges == {(10, 11, 0), (20, 21, 1)}


def test_rebuild_breaks_centroid_ties_by_lowest_label():
    vecs = np.array([[0.5, 0.5], [0.5, 0.5]], dtype=np.float32)
    assign, _ = ivf_rebuild(np.array([1, 2]), vecs, [[1_000_000, 0], [0, 1_000_000]], [3, 4], top_k=1)
    assert assign == {1: 3, 2: 3}
