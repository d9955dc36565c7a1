"""Source connectors: container-file compat + partitioned external reads.

Row-transform scan helpers live in operators/scans.py; this package holds
the connectors with a real I/O format behind them, one module each.
"""
