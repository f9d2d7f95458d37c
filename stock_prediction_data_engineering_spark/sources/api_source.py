"""Per-key external-API ingestion stage.

The reference drives yfinance row by row from a symbols DataFrame
(reference dags/stock_data_airflow_local_aws_s3.py:110-112 calling
yf.download at :36-42, timeout=30, log-and-skip on failure at
:43-45). Spark-native shape: the symbols table is a DataFrame, the
fetch is a ``mapInPandas`` stage — each task pulls a batch of symbols
and emits bar rows, so fetch parallelism == partition count and Spark
task retry replaces the reference's batch-level retry.

Two policies deliberately differ from the reference:

- failures become explicit error rows (quarantine column) instead of
  silently dropped symbols (the reference's :43-45 is a data-loss
  hazard flagged in SURVEY.md §7);
- rate limiting stays app-level: a per-task token bucket, since the
  engine must not hammer an upstream API with 1000 concurrent tasks.

There is no network in this environment, so the default fetcher is a
deterministic synthetic bar generator with the yfinance result shape;
a real fetcher plugs in via ``fetch_fn``.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BAR_SCHEMA = (
    "company string, bar_date date, open double, high double, low double, "
    "close double, adj_close double, volume long, fetch_error string"
)


class TokenBucket:
    """Token-bucket rate limiter for the fetch stage (the reference's
    one real operational constraint — its README warns about yfinance
    rate limits, README.md:58-59).

    ``rate`` tokens/sec refill up to ``burst`` capacity; ``acquire()``
    blocks (via the injected ``sleep``) until a token is available and
    consumes it. ``clock``/``sleep`` are injectable so tests drive the
    bucket with a counting clock instead of wall time.

    Distribution model: tasks cannot coordinate cheaply, so the GLOBAL
    budget is sliced per task — each of P fetch tasks gets rate N/P,
    bounding aggregate issue rate to N/sec (+ at most P*burst of
    startup burst) in every window regardless of parallelism. This is
    the standard Spark shape for politeness limits: no shared state,
    no driver round-trips on the hot path."""

    def __init__(
        self,
        rate: float,
        burst: float = 1.0,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        if rate <= 0:
            raise ValueError(f"rate must be positive, got {rate}")
        self.rate = float(rate)
        self.burst = max(1.0, float(burst))
        self._clock = clock
        self._sleep = sleep
        self.tokens = self.burst
        self.last = clock()

    def _refill(self) -> None:
        now = self._clock()
        self.tokens = min(
            self.burst, self.tokens + (now - self.last) * self.rate
        )
        self.last = now

    def acquire(self) -> None:
        self._refill()
        if self.tokens < 1.0:
            self._sleep((1.0 - self.tokens) / self.rate)
            self._refill()
        # consume unconditionally: a sleep() whose clock advanced less
        # than requested leaves a token debt rather than over-issuing
        self.tokens -= 1.0


def synthetic_fetch(symbol: str, start: str, end: str) -> pd.DataFrame:
    """Deterministic fake of yf.download(symbol): a small daily-bar
    frame seeded by the symbol text, matching the yfinance 0.2.x
    single-ticker column shape (reference requirements.txt:1)."""
    seed = sum(symbol.encode()) % 97 + 1
    dates = pd.date_range(start, end, freq="D", inclusive="left")[:30]
    base = pd.Series(range(len(dates)), dtype="float64") * 0.25 + seed
    return pd.DataFrame(
        {
            "company": symbol,
            "bar_date": dates.date,
            "open": base,
            "high": base + 1.0,
            "low": base - 1.0,
            "close": base + 0.5,
            "adj_close": base + 0.5,
            "volume": (base * 1000).astype("int64"),
            "fetch_error": None,
        }
    )


def fetch_bars(
    symbols: DataFrame,
    start: str = "2000-01-01",
    end: str = "2024-10-01",
    fetch_fn: Callable[[str, str, str], pd.DataFrame] = synthetic_fetch,
    num_tasks: int | None = None,
    requests_per_sec: float | None = None,
    burst: float = 1.0,
) -> DataFrame:
    """The fetch stage: a DataFrame with a ``symbol`` column -> bar
    DataFrame.

    ``num_tasks`` bounds concurrent upstream connections (the
    reference's batch_size=100 analog). ``requests_per_sec`` is the
    GLOBAL rate budget, enforced by a per-task :class:`TokenBucket`
    running at requests_per_sec / P (P = the stage's task count), so
    aggregate request rate stays <= the budget under any parallelism.

    Rate-slicing assumption: the per-task rate is requests_per_sec / P
    with P fixed at plan time. With ``num_tasks`` set (the intended
    shape for a rate-limited fetch), the explicit ``repartition(N)``
    pins P = N exactly — AQE neither coalesces nor skew-splits a
    user-specified round-robin repartition, and PySpark's TaskContext
    exposes no runtime partition count to re-derive it worker-side.
    Without ``num_tasks`` the driver-side estimate can undercount if
    a downstream re-plan adds tasks, letting the aggregate rate exceed
    the budget by the extra tasks' slices plus their startup burst —
    pass ``num_tasks`` whenever ``requests_per_sec`` matters."""
    src = symbols.select("symbol")
    if num_tasks:
        src = src.repartition(num_tasks)
    per_task_rate = None
    if requests_per_sec:
        n_parts = num_tasks or src.rdd.getNumPartitions()
        per_task_rate = requests_per_sec / max(1, n_parts)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = TokenBucket(per_task_rate, burst) if per_task_rate else None
        for pdf in batches:
            for sym in pdf["symbol"]:
                if bucket is not None:
                    bucket.acquire()
                try:
                    yield fetch_fn(sym, start, end)
                except Exception as exc:  # quarantine, don't drop
                    yield pd.DataFrame(
                        {
                            "company": [sym],
                            "bar_date": [None],
                            "open": [None],
                            "high": [None],
                            "low": [None],
                            "close": [None],
                            "adj_close": [None],
                            "volume": [None],
                            "fetch_error": [repr(exc)],
                        }
                    )

    return src.mapInPandas(run, schema=BAR_SCHEMA)
