"""Structured-streaming wrapping of the batch pipeline: delivery
ledger (job-status analogue), retry/DLQ, stream-stream join."""
