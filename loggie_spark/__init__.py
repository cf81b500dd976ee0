"""loggie_spark — a PySpark-native rebuild of loggie-io/loggie's
source → interceptor → sink pipeline as batch DataFrame stages.

The reference (Go, /root/reference) runs N independent pipelines of
``sources → interceptors → queue → sink``. Here every pipeline is a
declarative DataFrame program: scan → vectorized parse → broadcast-join
enrich → routed fan-out write → metrics aggregate. Catalyst/Tungsten
replace loggie's hand-rolled pooling/batching/adaptive-concurrency
(see SURVEY.md §4); custom logic is limited to a handful of Arrow-batched
pandas UDFs and plan-time compilers (grok expansion, ${...} patterns,
the transformer action/condition grammar).
"""

from loggie_spark import zipcache
from loggie_spark.session import get_spark

zipcache.install()

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
