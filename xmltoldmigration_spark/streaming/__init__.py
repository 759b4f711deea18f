"""Structured Streaming operators.

The reference is pure batch (SURVEY.md §2.7).  stateful.py holds the
applyInPandasWithState sessionizer that the driver query
`stream_stateful_sessionization` (queries/streamq.py) runs over the
synthetic `events` table.
"""
