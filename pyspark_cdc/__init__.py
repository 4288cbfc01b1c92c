"""pyspark-cdc: a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of hankerbiao/pg2meili-cdc's Debezium-consumer
core (reference at /root/reference, see SURVEY.md) in idiomatic Spark:

    event log (Kafka-shaped)  ->  from_json parse + normalize (parse.py)
                              ->  idempotent MERGE into a bucketed
                                  merge-on-read parquet lake (sink.py),
                                  per-key last-writer-wins resolved at
                                  read and fold time (order.py ordering)

driven either as one batch (replay_batch) or as a checkpointed Structured
Streaming job (stream.py), with per-partition lineage metrics (metrics.py)
and a pure-Python oracle of the reference semantics (oracle.py) for tests.
"""

__version__ = "0.1.0"
