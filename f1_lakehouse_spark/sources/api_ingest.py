"""API-source ingestion (SURVEY.md §2.1 S1–S2).

The reference pulls (season, round, session) payloads from the FastF1 HTTP
API on the driver, one pandas frame at a time, with an on-disk response
cache (reference ``ingestion/src/ingestion/fastf1_ingest.py:56,80-81``,
cache at ``:51``). The Spark-native shape generalizes that:

- a *task list* of fetch units (the reference's (season, round, session)
  triples) distributed via ``spark.createDataFrame(tasks)`` +
  ``mapInPandas(fetch)`` so N executors fetch in parallel — the reference's
  serial driver loop becomes the unit of parallelism/retry;
- the fetcher is injected (no network dependency in tests; a real client
  drops in);
- per-task fault isolation: a failing fetch yields zero rows and is
  recorded, it does not abort the job (reference ``fastf1_ingest.py:82-84``
  logs-and-skips);
- an optional driver-side response cache directory (S2) for the injected
  fetcher to use.

The fetched frames land in the bronze partitioned sink
(``parquet_io.write_partitioned_idempotent``) keyed by the task columns.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from f1_lakehouse_spark.sources.commit import atomic_write

# A fetcher maps one task row (as a dict) to a pandas DataFrame of records.
# It runs on executors — it must be picklable and self-contained.
FetchFn = Callable[[dict], pd.DataFrame]


@dataclass
class CachedFetcher:
    """S2: wrap a fetcher with a filesystem response cache (JSON records).

    The cache key is the task dict; executors sharing a filesystem (or a
    fuse-mounted object store) reuse responses across runs — the analog of
    the reference's on-disk HTTP cache.
    """

    fetch: FetchFn
    cache_dir: str

    def __call__(self, task: dict) -> pd.DataFrame:
        key = "_".join(f"{k}-{task[k]}" for k in sorted(task)) + ".json"
        path = os.path.join(self.cache_dir, key)
        if os.path.exists(path):
            with open(path) as f:
                return pd.DataFrame(json.load(f))
        out = self.fetch(task)
        os.makedirs(self.cache_dir, exist_ok=True)
        atomic_write(path, json.dumps(out.to_dict(orient="records"), default=str))
        return out


def ingest_tasks(
    spark: SparkSession,
    tasks: list[dict],
    fetch: FetchFn,
    result_schema: str,
    tasks_schema: str | None = None,
) -> DataFrame:
    """S1: distribute the fetch task list across executors.

    ``result_schema`` must include the task columns so every record stays
    attributable to its partition (the reference writes one file per task
    directory). Returns the lazy union of all fetched frames.
    """
    task_cols = list(tasks[0].keys())
    tdf = spark.createDataFrame(
        [tuple(t[c] for c in task_cols) for t in tasks],
        tasks_schema or ", ".join(f"{c} string" for c in task_cols),
    )
    # one task per input row; mapInPandas streams Arrow batches back
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                task = row.to_dict()
                try:
                    out = fetch(task)
                except Exception:
                    # per-task fault isolation: skip, yield nothing
                    continue
                if out.empty:
                    continue
                for c in task_cols:
                    out[c] = task[c]
                yield out

    # spread tasks across the cluster; one partition per task keeps retry
    # granularity at the task level like the reference's per-session loop
    return tdf.repartition(len(tasks)).mapInPandas(run, schema=result_schema)


@dataclass
class HttpJsonFetcher:
    """A REAL network FetchFn: GET ``{base_url}{path}?<task params>`` and
    parse a JSON array of records into the pandas frame ``ingest_tasks``
    distributes (the reference's FastF1 HTTP pull,
    ``ingestion/src/ingestion/fastf1_ingest.py:56,80``, re-shaped to the
    executor-side task model). Stdlib-only (urllib) and picklable — plain
    fields, imports inside the call — so it ships to executors; each task
    fetch carries its own bounded timeout and capped linear-backoff retry
    on 5xx/connection errors (4xx raises immediately: the task is wrong,
    and ``ingest_tasks``'s fault isolation records it as a failed task).

    Compose with :class:`CachedFetcher` for the reference's on-disk
    response cache (S2): ``CachedFetcher(HttpJsonFetcher(...), dir)``.
    """

    base_url: str
    path: str = "/"
    timeout_s: float = 30.0
    max_retries: int = 2
    backoff_s: float = 0.5

    def __call__(self, task: dict) -> pd.DataFrame:
        import time
        import urllib.error
        import urllib.parse
        import urllib.request

        qs = urllib.parse.urlencode({k: str(v) for k, v in sorted(task.items())})
        url = f"{self.base_url.rstrip('/')}{self.path}?{qs}"
        last_err: Exception | None = None
        payload: bytes | None = None
        for attempt in range(self.max_retries + 1):
            try:
                with urllib.request.urlopen(url, timeout=self.timeout_s) as resp:
                    payload = resp.read()
                break
            except urllib.error.HTTPError as err:
                if 400 <= err.code < 500:
                    raise RuntimeError(
                        f"task rejected by API: HTTP {err.code} for {url}"
                    ) from err
                last_err = err
            except (urllib.error.URLError, TimeoutError, OSError) as err:
                last_err = err
            if attempt < self.max_retries:
                time.sleep(self.backoff_s * (attempt + 1))
        if payload is None:
            raise RuntimeError(
                f"API unreachable after {self.max_retries + 1} attempts: {last_err}"
            ) from last_err
        # Parse OUTSIDE the retry loop: a 200 with a malformed or non-array
        # body is a permanent server-contract error — retrying it only burns
        # backoff time. Fast-fail distinctly, mirroring the 4xx path.
        try:
            return pd.DataFrame(json.loads(payload.decode("utf-8")))
        except (ValueError, TypeError) as err:
            raise RuntimeError(
                f"bad response body (not a JSON record array) for {url}: {err}"
            ) from err
