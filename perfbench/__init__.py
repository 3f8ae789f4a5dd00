"""Layered benchmark for the aws_datalake_spark engine (see README.md)."""
