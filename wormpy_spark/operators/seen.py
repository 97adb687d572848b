"""URL-seen set: one exact anti-join at admission (J1-J3, X1).

The reference keeps an in-memory ``set`` of normalized URLs checked at
pop time (url_tracker.py:27,42). At 10^10-URL scale the engine keeps
the seen set as a table of (url_hash, url_norm) and checks each URL
against it ONCE, when it is admitted to a frontier (plans/crawl.py
``_admit``: the seeds, each expansion, the resume rebuild of a deferred
expansion). Every later round's frontier is therefore already disjoint
from seen: seen grows only by rows fetched from earlier frontiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# below this many seen keys the keys broadcast whole (no shuffle):
# 2M keys ≈ 140 MB of (hash, url) broadcast; above it the shuffled
# anti-join scales with the cluster instead of the driver
BROADCAST_SEEN_MAX = 2_000_000


def anti_join_seen(
    candidates: DataFrame, seen: DataFrame, seen_count: int
) -> DataFrame:
    """J1/J2: drop candidates already in the seen set.

    Exact LEFT ANTI join on (url_hash, url_norm) — the hash prunes the
    join to 64-bit comparisons, the url_norm equality guards hash
    collisions. ``seen_count`` (the driver-known seen size) picks a
    broadcast join below ``BROADCAST_SEEN_MAX`` and a shuffled one at
    or above it."""
    keys = ["url_hash", "url_norm"]
    seen_keys = seen.select(*keys)
    if seen_count < BROADCAST_SEEN_MAX:
        seen_keys = F.broadcast(seen_keys)
    return candidates.join(seen_keys, on=keys, how="left_anti")
