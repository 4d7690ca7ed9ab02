"""Benchmark for the changes-feed warehouse; see README.md."""
