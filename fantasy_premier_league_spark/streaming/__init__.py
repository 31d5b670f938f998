"""Structured Streaming over the snapshot drops (SURVEY §2.11).

The reference is batch-only; its stream-shaped structures are the
timestamped snapshot drops and the append-only ``players_statuses`` log.
``snapshots.py`` consumes the snapshot directory incrementally into that
log.
"""
