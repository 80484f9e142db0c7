"""console_log_parser_spark — a PySpark-native console/telemetry log
analytics engine.

A from-scratch rebuild of the capabilities of ``fzs/console_log_parser``
(reference at /root/reference, read-only) as a parse -> enrich -> route ->
aggregate DataFrame pipeline over tables of pre-tokenized console
transcripts, designed for 10^12-sequence scale:

- ``functions.ansi``    compiled-regex ANSI/VT sequence model (replaces the
                        reference's byte-at-a-time VT500 FSM,
                        vtparser.py:246-476, with vectorized regex passes)
- ``oracle``            independent pure-Python char-at-a-time oracle used
                        only by tests (clean-room FSM, validated against the
                        reference's golden transcripts)
- ``datagen``           deterministic synthetic tokenized-transcript tables
- ``operators.parse``   Arrow-vectorized parse stage (mapInArrow)
- ``operators.enrich``  broadcast source->route lookup join
- ``operators.route``   routed-column projection + the sink-partitioned
                        fan-out write (no exchange)
- ``operators.aggregate`` per-sink aggregates (counts, token sums,
                        severity and escape-sequence histograms)
- ``sources.catalog``   tokenized-table reader (Iceberg, else Parquet)
                        and partitioned-Parquet routed-table writer
- ``plans.pipeline``    ``build_routed``: the one parse -> enrich ->
                        route chain every caller builds on
- ``plans.checkpoint``  ``run_with_checkpoints``: the one runner —
                        micro-batch writes, lineage manifests, resume
"""

__version__ = "0.1.0"
