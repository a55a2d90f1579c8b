"""Sources: the `ibmmq` DataSource (Python Data Source API) and the
file-backed fake MQ broker it reads (SURVEY.md §5.2 item 3). The broker
calls the readers make, and how each maps onto a live queue manager, are
listed in the `sources.mq` module docstring.
"""

from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker
from spark_ibm_mq_spark.sources.mq import SCHEMA as MQ_SCHEMA
from spark_ibm_mq_spark.sources.mq import IBMMQDataSource, register_ibmmq

__all__ = ["FakeMQBroker", "IBMMQDataSource", "MQ_SCHEMA", "register_ibmmq"]
