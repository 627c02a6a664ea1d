"""Layered benchmark for flatnav_spark; entry point perfbench/run.py."""
