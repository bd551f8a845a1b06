"""Closed-loop workload benchmark for the sap_data_pipeline_spark engine."""
