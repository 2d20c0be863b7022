from scalemine_spark.algorithms.clustering import clustering_coefficient
from scalemine_spark.algorithms.components import connected_components
from scalemine_spark.algorithms.fsm import frequent_subgraphs
from scalemine_spark.algorithms.hits import hits
from scalemine_spark.algorithms.kcore import kcore
from scalemine_spark.algorithms.labelprop import label_propagation
from scalemine_spark.algorithms.linkpred import adamic_adar
from scalemine_spark.algorithms.pagerank import pagerank
from scalemine_spark.algorithms.ppr import personalized_pagerank
from scalemine_spark.algorithms.randomwalk import random_walks
from scalemine_spark.algorithms.scc import scc
from scalemine_spark.algorithms.neighborhood import hyperball, neighborhood_function
from scalemine_spark.algorithms.sssp import bfs_hops, sssp
from scalemine_spark.algorithms.triangles import triangle_count, triangles_per_vertex

__all__ = [
    "pagerank",
    "personalized_pagerank",
    "connected_components",
    "label_propagation",
    "triangle_count",
    "triangles_per_vertex",
    "hits",
    "bfs_hops",
    "kcore",
    "sssp",
    "clustering_coefficient",
    "random_walks",
    "adamic_adar",
    "scc",
    "frequent_subgraphs",
    "neighborhood_function",
    "hyperball",
]
