"""The declared-query conformance suite for ``pipz_spark``.

Kept outside the library: nothing under ``pipz_spark/`` imports it.

- ``queries``: the registry of declared queries, each a Spark builder
  paired with the DuckDB SQL that checks it (``__spark_entry__.py``
  serves it to the correctness driver);
- ``streams``: the streaming rigs those queries run, with their
  replay helpers and ``drain_stream``;
- ``bpe``: the DuckDB oracle for BPE tokenization;
- ``oracle``: DuckDB-to-Spark output type parity for the gates;
- ``scratch``: per-process scratch directories removed at exit.
"""
