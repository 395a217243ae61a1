"""End-to-end pipelines re-expressing the reference's entry points."""
