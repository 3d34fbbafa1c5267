from sensapp_spark.exporters.csv_exporter import to_csv_single  # noqa: F401
from sensapp_spark.exporters.senml_exporter import iter_senml  # noqa: F401
from sensapp_spark.exporters.arrow_exporter import to_arrow_single  # noqa: F401
