"""Unified query catalog: importing the catalog modules populates QUERIES
in registration order.

``queries()`` / ``oracle_sql()`` in ``__spark_entry__.py`` are thin views
over this registry.
"""

from __future__ import annotations

from .registry import QUERIES, QuerySpec, load_table  # noqa: F401
from . import catalog_core  # noqa: F401  (registers core queries)
from . import catalog_llm  # noqa: F401  (text, corpus passes)
from . import catalog_dedup  # noqa: F401  (LLM dedup family: exact, MinHash-LSH, SimHash, shingle overlap, pipelines)
from . import catalog_analytics  # noqa: F401  (registers analytics queries)
from . import catalog_graph  # noqa: F401  (graph family: centrality, communities, links, traversal)
from . import catalog_stream  # noqa: F401  (streaming family: stateful folds, sketches, watermarks, ANN ingest)
from . import catalog_similarity  # noqa: F401  (similarity family: exact, LSH, IVF, PQ, graph ANN, evaluation)
from . import catalog_tpch  # noqa: F401  (registers extended TPC-H shapes)
from . import catalog_round3  # noqa: F401  (set ops, range windows, LLM passes)
from . import catalog_round5  # noqa: F401  (funnel, Count-Min, HLL, chunking)
from . import catalog_round5b  # noqa: F401  (Z-order layout, histogram quantiles)
from . import catalog_round6  # noqa: F401  (repetition rules, reservoir sample)
from . import catalog_round7  # noqa: F401  (real PPM/WAV decode, sharding, LM scores)
from . import catalog_round8  # noqa: F401  (quarantine decode for malformed media)
from . import catalog_round8b  # noqa: F401  (robust stats, LR train)
from . import catalog_round8c  # noqa: F401  (SCD2, skyline scan, EWMA, ACF, PSI drift)
from . import catalog_round8d  # noqa: F401  (weighted sample, naive Bayes, PMI, seasonal)
from . import catalog_round8e  # noqa: F401  (Gini, Benford, n-gram novelty, trend slope)
from . import catalog_round8f  # noqa: F401  (SCD2 lookup, Theil index)
from . import catalog_round9  # noqa: F401  (PNG decode, capped shards)
from . import catalog_round10  # noqa: F401  (capped gzip, salted interval join)
from . import catalog_round10b  # noqa: F401  (zip container, DQ suites, unigram LM)
from . import catalog_round10c  # noqa: F401  (CDC merge, spatial join, bucketed join)
from . import catalog_round10d  # noqa: F401  (l-diversity, attribution, Zipf)
from . import catalog_round10e  # noqa: F401  (partition pruning)
from . import catalog_round10f  # noqa: F401  (snapshot diff, schema evolution)
from . import catalog_round10g  # noqa: F401  (conversion latency)
from . import catalog_round10h  # noqa: F401  (timed funnel, uncertainty sample)
from . import catalog_round11  # noqa: F401  (vocab KL drift, tolerant as-of, CUPED)
from . import catalog_round12  # noqa: F401  (nearest as-of join, RFM)

__all__ = [
    "QUERIES",
    "QuerySpec",
    "load_table",
]
