"""mysqldump_to_parquet_spark — a PySpark-native analytics engine.

A from-scratch reimplementation of the *capabilities* of
``Scoopit/mysqldump-to-parquet`` (reference: /root/reference, Rust, ~839 LoC:
src/main.rs + src/line_parser.rs + src/parquet_writer.rs) on top of Apache
Spark, extended with a full relational query surface and LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis).

Design stance (SURVEY.md §7): the reference's 3-thread pipeline
(read → parse → write, src/main.rs:88–108) is replaced wholesale by Spark's
DAG scheduler; we re-express only its *semantics* — the mysqldump statement
grammar, the DDL type mapping, and the one-Parquet-dataset-per-table sink —
and everything else is declared through the DataFrame/SQL API so Catalyst
picks the physical strategy.
"""

__version__ = "0.1.0"

from . import zipimport_stamps  # noqa: F401  (first: see its docstring)
from .session import get_spark, configure_for_oracle  # noqa: F401
from .catalog import load_table, register_views  # noqa: F401
