"""DuckDB SQL replays of the engine's kernels: the independent oracles that
``__spark_entry__.oracle_sql()`` checks queries against. The engine never
imports this package."""
