"""Unified query catalog: importing the catalog modules populates QUERIES
in registration order.

``queries()`` / ``oracle_sql()`` in ``__spark_entry__.py`` are thin views
over this registry.
"""

from __future__ import annotations

from .registry import QUERIES, QuerySpec, load_table  # noqa: F401
from . import catalog_core  # noqa: F401  (registers core queries)
from . import catalog_llm  # noqa: F401  (registers LLM queries)
from . import catalog_analytics  # noqa: F401  (registers analytics queries)
from . import catalog_graph  # noqa: F401  (graph family: centrality, communities, links, traversal)
from . import catalog_tpch  # noqa: F401  (registers extended TPC-H shapes)
from . import catalog_round3  # noqa: F401  (set ops, range windows, LLM passes)
from . import catalog_round5  # noqa: F401  (two-stage verify, window dedup, PQ, funnel)
from . import catalog_round5b  # noqa: F401  (ANN recall, watermark replay, Z-order layout)
from . import catalog_round6  # noqa: F401  (repetition rules, reservoir sample, power iteration)
from . import catalog_round7  # noqa: F401  (real PPM/WAV decode, top-2 spectral directions)
from . import catalog_round8  # noqa: F401  (quarantine decode for malformed media)
from . import catalog_round8b  # noqa: F401  (robust stats, edit verify, LR train)
from . import catalog_round8c  # noqa: F401  (SCD2, skyline scan, EWMA, ACF, PSI drift)
from . import catalog_round8d  # noqa: F401  (weighted sample, naive Bayes, PMI, seasonal)
from . import catalog_round8e  # noqa: F401  (Gini, Benford, n-gram novelty, trend slope)
from . import catalog_round8f  # noqa: F401  (SCD2 lookup, Theil index)
from . import catalog_round9  # noqa: F401  (PNG decode, capped shards, graph ANN)
from . import catalog_round10  # noqa: F401  (ANN build reuse, capped gzip, salted interval join)
from . import catalog_round10b  # noqa: F401  (zip container, RRF fusion, P/R@K eval)
from . import catalog_round10c  # noqa: F401  (CDC merge, spatial join, bucketed join)
from . import catalog_round10d  # noqa: F401  (l-diversity, attribution, Zipf)
from . import catalog_round10e  # noqa: F401  (partition pruning, MMR diversify)
from . import catalog_round10f  # noqa: F401  (snapshot diff, schema evolution)
from . import catalog_round10g  # noqa: F401  (RBO agreement, conversion latency)
from . import catalog_round10h  # noqa: F401  (JL projection, timed funnel)
from . import catalog_round11  # noqa: F401  (batched k-center, persisted ANN graph)
from . import catalog_round12  # noqa: F401  (persisted IVF-PQ, streaming CMS)
from . import catalog_round13  # noqa: F401  (IVF-PQ recall@k, streaming quantiles)

__all__ = [
    "QUERIES",
    "QuerySpec",
    "load_table",
]
