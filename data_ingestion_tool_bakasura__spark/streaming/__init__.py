"""Structured Streaming surface (SURVEY §2.C17).

`windows` — watermarked tumbling/sliding/session aggregations and
stateful dedup as readStream transformations, plus a bounded-replay
harness (availableNow trigger -> memory sink) that lets the same
computation be checked against its batch/DuckDB oracle.

`pipeline` — eight foreachBatch sinks over file streams, one skeleton
(replay guard -> compute -> ordered durable writes -> crash points):
incremental document ingest, key-addressed upsert, LSH near-dup,
semantic (SemDeDup) and substring-span dedup, image and video near-dup,
and the gated WARC/WET crawl corpus.
"""
