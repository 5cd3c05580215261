"""HTTP API extract sources (SURVEY.md §2.1 S1/S2/S3).

The reference fetches per-city OpenAQ payloads with retry ×3, exponential
backoff 2^(n−1)s, a 10 s timeout and a 0.5 s politeness sleep between
cities (`ETL_Multi_Lvl_API/extract.py:68-121`), and a single Open-Meteo
forecast (`ETL_Weather_API/extract.py:18-40`); payloads land as pretty
JSON with timestamped filenames, non-serializable responses fall back to
``.txt`` repr (`extract.py:48-66`).

Extraction is inherently driver-side (a handful of API calls, network
retries, rate limits) — Spark enters at the landing boundary:
``payloads_to_df`` turns fetched payloads into a DataFrame through the
same multiLine-JSON inference the file reader uses, and ``land_raw_json``
writes the raw zone the pipelines' ``read_raw`` scans.  For a large URL
fan-out, ``fetch_partition`` is the ``mapPartitions`` form: each executor
fetches its slice with the same retry envelope.

The transport is injectable (any ``get(url, params, timeout) -> (status,
text)`` callable) so tests run without network and without ``requests``
installed.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable, Iterator
from datetime import datetime, timezone
from pathlib import Path

Transport = Callable[[str, dict, float], tuple[int, str]]

TS_FMT = "%Y%m%dT%H%M%SZ"  # ETL_Multi_Lvl_API/transform.py:23


def _requests_transport(url: str, params: dict, timeout: float) -> tuple[int, str]:
    import requests

    r = requests.get(url, params=params, timeout=timeout)
    return r.status_code, r.text


def fetch_with_retry(
    url: str,
    params: dict | None = None,
    max_retries: int = 3,
    timeout: float = 10.0,
    transport: Transport | None = None,
    sleep: Callable[[float], None] = time.sleep,
):
    """S1 fetch core: GET with JSON-or-text fallback parse and retry ×
    ``max_retries`` with exponential backoff 2^(n−1) s
    (`ETL_Multi_Lvl_API/extract.py:68-106`).  Returns the parsed payload
    (dict/list) or the raw text when the body is not JSON; raises after
    the final attempt fails."""
    transport = transport or _requests_transport
    last_err: Exception | None = None
    for attempt in range(1, max_retries + 1):
        try:
            status, text = transport(url, params or {}, timeout)
            if status >= 400:
                raise RuntimeError(f"HTTP {status} from {url}")
            try:
                return json.loads(text)
            except (ValueError, TypeError):
                return text  # JSON-or-text fallback (extract.py:90-93)
        except Exception as e:  # noqa: BLE001 — retry envelope
            last_err = e
            if attempt < max_retries:
                sleep(2 ** (attempt - 1))
    raise RuntimeError(f"fetch failed after {max_retries} attempts: {last_err}")


def fetch_many(
    specs: Iterable[tuple[str, str, dict]],
    politeness_sleep: float = 0.5,
    sleep: Callable[[float], None] = time.sleep,
    **kw,
) -> list[tuple[str, object]]:
    """S1 driver loop: sequential fetch of (name, url, params) specs with
    the inter-call politeness sleep (`extract.py:108-121`).  Failures are
    recorded as None payloads and do not abort the loop."""
    out: list[tuple[str, object]] = []
    first = True
    for name, url, params in specs:
        if not first:
            sleep(politeness_sleep)
        first = False
        try:
            out.append((name, fetch_with_retry(url, params, sleep=sleep, **kw)))
        except Exception:  # noqa: BLE001 — continue-on-failure per city
            out.append((name, None))
    return out


def fetch_partition(
    specs: Iterator[tuple[str, str, dict]],
    **kw,
) -> Iterator[tuple[str, str | None]]:
    """S1 at scale: the ``mapPartitions`` body for a distributed URL
    fan-out — ``rdd.mapPartitions(lambda it: fetch_partition(it))``.
    Yields (name, payload_json) strings; retries stay per-executor.  A
    fetch that fails after its retries yields (name, None), as in
    ``fetch_many``, so the caller can count the failures."""
    for name, url, params in specs:
        try:
            payload = fetch_with_retry(url, params, **kw)
        except Exception:  # noqa: BLE001 — continue-on-failure per spec
            yield name, None
        else:
            yield name, json.dumps(payload)


def land_raw_json(
    payload: object,
    out_dir: str,
    name: str,
    now: datetime | None = None,
) -> str:
    """S3 raw sink: pretty JSON with timestamped filename
    ``<name>_raw_<ts>.json``; non-serializable payloads fall back to a
    ``.txt`` repr (`ETL_Multi_Lvl_API/extract.py:48-66`)."""
    ts = (now or datetime.now(timezone.utc)).strftime(TS_FMT)
    d = Path(out_dir)
    d.mkdir(parents=True, exist_ok=True)
    try:
        body = json.dumps(payload, indent=2, ensure_ascii=False)
        path = d / f"{name}_raw_{ts}.json"
    except (TypeError, ValueError):
        body = repr(payload)
        path = d / f"{name}_raw_{ts}.txt"
    path.write_text(body, encoding="utf-8")
    return str(path)


def payloads_to_df(spark, payloads: list[tuple[str, object]]):
    """Landing boundary: fetched payloads → DataFrame via Spark's JSON
    inference (same schema rules as the raw-zone file reader), with the
    fetch name attached as ``_fetch_name`` — the in-memory twin of
    ``read_raw`` + filename hint."""
    docs = [
        json.dumps({**(p if isinstance(p, dict) else {"payload": p}),
                    "_fetch_name": name})
        for name, p in payloads
        if p is not None
    ]
    return spark.read.json(spark.sparkContext.parallelize(docs, max(len(docs), 1)))
