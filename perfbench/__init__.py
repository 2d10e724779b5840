"""CDC consumer benchmark for sql_cdc_spark; entry point is run.py."""
