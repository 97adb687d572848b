"""Deterministic per-host politeness schedule (T1/T2).

The reference sleeps ``random.uniform(1,5)`` seconds per (scraper,
domain) before each request (modules/utils/utils.py:36-51,
config.py:34-35) and backs off ``1s·2^k`` between HTTP retries
(content_processor.py:126-129). Wall-clock sleeps don't change FIFO
ordering with the canonical single logical scraper, so the engine
models politeness as a *simulated, seeded clock*: every processing
attempt draws ``U(1,5)`` from ``PCG64(seed, blake2b(host), attempt_ix)``
— a pure function of (seed, host, per-host attempt index), identically
computed by the golden oracle and by the engine's grouped Arrow UDF,
making the politeness budget replayable and comparable.

Attempt accounting (derived from the reference control flow):
- every pop that reaches the rate limiter draws one delay
  (scraper.py:88-89);
- a Selenium driver-construction failure (T3) requeues the URL at the
  pool head with no fetch — so a row with ``selenium_fail_attempts=k``
  draws ``k+1`` delays;
- a failing first HTTP attempt sleeps one backoff second
  (MAX_RETRIES=2 ⇒ exactly one 1s·2^0 sleep before the final attempt).

Scale note: the schedule is computed with ``applyInPandas`` grouped by
host — per-host state is a single running (index, clock) pair, rounds
stay embarrassingly parallel across hosts, and a skewed host never
serializes the job (it only accrues simulated clock).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

RATE_LIMIT_MIN = 1.0  # config.py:34
RATE_LIMIT_MAX = 5.0  # config.py:35
MAX_RETRIES = 2       # config.py:28
INITIAL_RETRY_DELAY = 1.0  # config.py:31


def host_key(host: str) -> int:
    """Stable 63-bit key for a host (process-independent, unlike hash())."""
    return int.from_bytes(
        hashlib.blake2b(host.encode(), digest_size=8).digest(), "big"
    ) >> 1


def delay_stream(seed: int, host: str, n: int) -> np.ndarray:
    """The per-host delay stream: one seeded PCG64 per (seed, host),
    U(1,5) draws indexed by attempt. Stream-based (not per-draw
    seeding) so the engine can vectorize a whole host's schedule in
    one RNG call; the oracle slices the same stream."""
    rng = np.random.Generator(
        np.random.PCG64([seed & 0x7FFFFFFFFFFFFFFF, host_key(host)])
    )
    return rng.uniform(RATE_LIMIT_MIN, RATE_LIMIT_MAX, size=n)


def politeness_delay(seed: int, host: str, attempt_ix: int) -> float:
    """The U(1,5) draw for the attempt_ix-th attempt against host
    (stream element attempt_ix — O(ix), used by the oracle/tests)."""
    return float(delay_stream(seed, host, attempt_ix + 1)[attempt_ix])


def backoff_debit(fetch_failed_first_attempt: bool) -> float:
    """1s·2^0 sleep before the (single) HTTP retry (MAX_RETRIES=2)."""
    return INITIAL_RETRY_DELAY if fetch_failed_first_attempt else 0.0


SCHEDULE_SCHEMA = (
    "host string, seq long, draws int, debit double, start_ix long, "
    "delay_s double, attempt_ix long"
)


def make_schedule_fn(seed: int):
    """applyInPandas function (grouped by host): assigns per-row
    politeness delay within a round. Input columns: host, seq, draws,
    debit, start_ix (the host's attempt counter carried in host_state,
    joined in by the caller — null for first-seen hosts). Output adds
    delay_s and attempt_ix. Per-host state is one integer, so rounds
    parallelize across hosts."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq").reset_index(drop=True)
        host = pdf["host"].iloc[0]
        start = int(pdf["start_ix"].iloc[0]) if pd.notna(pdf["start_ix"].iloc[0]) else 0
        draws = pdf["draws"].to_numpy(np.int64)
        total = int(draws.sum())
        stream = delay_stream(seed, host, start + total)
        ends = start + np.cumsum(draws)
        begins = ends - draws
        cs = np.concatenate([[0.0], np.cumsum(stream)])
        pdf["delay_s"] = (cs[ends] - cs[begins]) + pdf["debit"].to_numpy(float)
        pdf["attempt_ix"] = begins
        pdf["start_ix"] = start + total  # next index; caller aggregates max
        return pdf

    return fn
