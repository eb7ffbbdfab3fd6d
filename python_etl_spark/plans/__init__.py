"""Query plans: the engine's analytic suite + ETL transform layer.

Importing this package populates the global registry (QUERIES/ORACLES)
used by __spark_entry__.py and the parity tests.
"""

from python_etl_spark.plans.common import ORACLES, QUERIES  # noqa: F401
from python_etl_spark.plans import analytic  # noqa: F401,E402
from python_etl_spark.plans import etl  # noqa: F401,E402
from python_etl_spark.plans import llm  # noqa: F401,E402
from python_etl_spark.plans import checked  # noqa: F401,E402
from python_etl_spark.plans import curation  # noqa: F401,E402
from python_etl_spark.plans import insights  # noqa: F401,E402
from python_etl_spark.plans import training  # noqa: F401,E402
from python_etl_spark.plans import lakehouse  # noqa: F401,E402
from python_etl_spark.plans import web  # noqa: F401,E402
