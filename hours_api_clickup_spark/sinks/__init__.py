from hours_api_clickup_spark.sinks.writers import csv_backup

__all__ = ["csv_backup"]
