"""tax_compliance_engine_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the public ``stabrea/tax-compliance-engine`` reference
(single-threaded Python ETL), redesigned for distributed execution:

- all dimension lookups become literal-map lookups (``try_element_at``)
  built once from the seed dims, so no dim is joined
- the per-row tax decision tree becomes one Catalyst ``CASE WHEN`` column tree
- batch aggregations become ``groupBy().agg()`` with map-side partials
- the filing calendar becomes a ``sequence``+``explode`` generator
- zero Python UDFs on the hot path; Arrow-batched pandas UDFs only where
  built-ins genuinely cannot express the op (similarity / multimodal).

Plus first-class large-scale data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) the reference does not have.
"""

__version__ = "0.1.0"

from .dims import Dims, load_dims  # noqa: E402,F401
from .rates_api import RateDatabase  # noqa: E402,F401
from .session import get_spark  # noqa: E402,F401

# The versioned public surface: session + dims bootstrap here at the
# top level; everything else is reached through its stable submodule
# (operators.tax, operators.dedup, operators.similarity, plans.queries,
# streaming.*, reports, cli) — `from tax_compliance_engine_spark import
# *` deliberately exposes only the bootstrap, not 70 operator names.
__all__ = [
    "Dims",
    "RateDatabase",
    "__version__",
    "get_spark",
    "load_dims",
]
