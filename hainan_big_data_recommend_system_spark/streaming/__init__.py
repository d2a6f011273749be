"""Structured Streaming event path (SURVEY.md §2.10 T1–T6).

The reference's online loop (`guessLike_u_like.py:179-226`) is a blocking
Redis pub/sub listener that recomputes one user's recommendations per
message against state snapshotted at startup.  Here that becomes one
streaming job: ``readStream`` → payload parse (``from_json`` replaces the
reference's ``eval``) → ``foreachBatch``: a probe of the payload map built
from the batch model tables at startup → KV sink, with the reference's
hot-list fallback.

- :mod:`.events` — event source, payload parse, channel dispatch;
- :mod:`.recommend` — the recommender: ``reco_assembly`` (M8§), the
  startup state built from it and the per-batch recommend step;
- :mod:`.sinks` — ``foreachBatch`` KV writers with hot fallback.
"""
