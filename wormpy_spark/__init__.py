"""wormpy_spark — a PySpark-native distributed crawl + data-pipeline engine.

A from-scratch reimplementation of the capabilities of the reference
crawler (aalapd/wormpy) as a distributed URL-frontier + fetch scheduler
driven entirely by DataFrame transforms and Arrow-vectorized pandas UDFs,
plus the large-scale training-data operators (dedup, similarity search,
text analysis, multimodal plumbing) such an engine needs at 100 TB scale.

Layout
------
- ``session``    : SparkSession factory (Arrow, AQE, shuffle sizing)
- ``functions``  : scalar/vector functions (URL canonicalization,
                   HTML extraction, image codecs, text analysis)
- ``operators``  : relational operators (frontier priority, seen-set
                   anti-join, politeness schedule, dedup families,
                   similarity search)
- ``sources``    : sources/sinks (snapshot catalog shim, sitemap parsing,
                   JSON/CSV sinks with reference-identical shapes)
- ``plans``      : the BSP crawl driver loop
- ``streaming``  : structured-streaming front-ends
- ``fixtures``   : deterministic synthetic corpora (web graph, images)
- ``oracle``     : in-memory reference-semantics executor used as the
                   golden comparator in tests
- ``_pyworker``  : per-task import-cache guard for the Python workers
                   (installed on import, see its docstring)
"""

from . import _pyworker

_pyworker.install()

__version__ = "0.1.0"
