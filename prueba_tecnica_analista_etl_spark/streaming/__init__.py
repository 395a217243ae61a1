"""Structured Streaming realization of the reference's designed-only
incremental pipeline (SURVEY.md §2.9 T1-T8): file-replay source,
watermarked tumbling/session windows, idempotent foreachBatch upsert
sink with control table and DLQ."""
