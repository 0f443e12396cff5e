"""Layered benchmark for lakehouse_automation_spark (see ../README.md)."""
