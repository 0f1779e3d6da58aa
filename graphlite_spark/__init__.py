"""graphlite_spark — a from-scratch PySpark-native link-graph analytics engine.

A Pregel-style (Malewicz et al., SIGMOD 2010) vertex-centric engine rebuilt
idiomatically on pyspark.sql DataFrames: supersteps are iterative DataFrame
passes, message exchange is the Spark shuffle with combiner-style partial
aggregation, aggregators are driver-collected scalar aggregates, and
vote-to-halt is a Boolean column.  Reference semantics: schencoding/GraphLite
v0.20 (see SURVEY.md for the file:line parity map).

Subpackages
-----------
sources/    transcripts generator, events->transcripts adapter, tinygraph
plans/      transcripts -> (vertices, edges) derivation
operators/  pregel driver, dedup, similarity
algos/      pagerank, connected components, label propagation, triangles
functions/  text analysis + shared hash expressions (Spark/DuckDB-identical)
streaming/  structured-streaming ingestion of transcripts
"""

__version__ = "0.1.0"
from graphlite_spark.algos.components import connected_components_fast  # noqa: F401
from graphlite_spark.algos.scc import strongly_connected_components  # noqa: F401
from graphlite_spark.algos.bowtie import bowtie_decomposition  # noqa: F401
from graphlite_spark.algos.hits import hits, salsa  # noqa: F401
from graphlite_spark.algos.pagerank import pagerank_warm_restart  # noqa: F401
from graphlite_spark.algos.stats import (  # noqa: F401
    degree_assortativity,
    powerlaw_alpha,
    reciprocity,
    rich_club,
    transitivity,
)
from graphlite_spark.algos.community import conductance  # noqa: F401
from graphlite_spark.checkpoint import truncate_plan  # noqa: F401
