"""ctinexus_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the computational semantics of
peng-gao-lab/ctinexus (reference at /root/reference, studied for
behavior only; no code copied).

Pipeline: documents → normalize → IE (triple extraction with kNN demo
retrieval) → ET (entity typing) → EA (mention minting, type-blocked
embedding-cosine merging, IOC unmerge) → LP (connected components,
main/topic nodes, link prediction) → materialized (subj, pred, obj)
triple table.

Everything heavy runs inside Arrow-batched pandas UDFs; everything
relational is plain DataFrame ops so Catalyst/AQE can optimize.
"""

from ctinexus_spark import _zipimport  # noqa: F401  (installs on import; see the module)

__version__ = "0.1.0"
