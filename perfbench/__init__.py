"""Crawl-loop benchmark for crawling_infrastructure_spark (entry point: run.py)."""
