"""Streaming surface.

The reference has NO streaming (strictly batch build → immutable serve,
SURVEY.md §2.8); this module is a beyond-reference extension: a
Structured Streaming ingest that adds each micro-batch of new page
files to the index as one segment.
"""
