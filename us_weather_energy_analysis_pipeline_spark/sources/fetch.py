"""Driver-side HTTP fetchers with retry/backoff (reference S1-S3,
`data_fetcher.py:8-125`).

Network I/O is an ingestion concern outside the query path (it dominated
the reference's 334 s runtime, BASELINE.md). The fetch layer is kept thin
and injectable: ``http_get`` is a callable so tests (and air-gapped runs)
inject a fake; the real one uses ``requests`` behind an import-try.

Fetched payloads land verbatim as bronze JSON, one file per (kind, city,
range); ``landing_path`` names that file and ``city_from_landing_path``
reads the city back out of it, so the readers need no side channel.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from collections.abc import Callable
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

HttpGet = Callable[[str, dict, dict], Any]  # (url, params, headers) -> response-like


def _default_http_get(url: str, params: dict, headers: dict):
    try:
        import requests  # noqa: PLC0415
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "requests not available in this environment; inject http_get"
        ) from e
    return requests.get(url, params=params, headers=headers, timeout=30)


def fetch_with_retries(
    url: str,
    params: dict,
    headers: dict,
    max_retries: int = 3,
    backoff_factor: float = 2.0,
    http_get: HttpGet = _default_http_get,
    sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """GET with exponential backoff 2·2^attempt s (reference
    `_fetch_with_retries` data_fetcher.py:8-22)."""
    last_exc: Exception | None = None
    for attempt in range(max_retries):
        try:
            resp = http_get(url, params, headers)
            if getattr(resp, "status_code", 200) == 200:
                return resp.json()
            raise RuntimeError(f"HTTP {resp.status_code}")
        except Exception as e:  # noqa: BLE001
            last_exc = e
            if attempt < max_retries - 1:
                sleep(backoff_factor * (2**attempt))
    raise RuntimeError(f"fetch failed after {max_retries} attempts: {last_exc}")


NOAA_URL = "https://www.ncei.noaa.gov/cdo-web/api/v2/data"
EIA_URL = "https://api.eia.gov/v2/electricity/rto/region-data/data/"


def fetch_noaa(
    token: str,
    station_id: str,
    start: str,
    end: str,
    http_get: HttpGet = _default_http_get,
    sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """GHCND TMAX/TMIN, metric units, limit 1000 (reference
    data_fetcher.py:24-55, params at :35-43)."""
    params = {
        "datasetid": "GHCND",
        "stationid": station_id,
        "startdate": start,
        "enddate": end,
        "datatypeid": "TMAX,TMIN",
        "units": "metric",
        "limit": 1000,
    }
    return fetch_with_retries(
        NOAA_URL, params, {"token": token}, http_get=http_get, sleep=sleep
    )


def fetch_eia_pages(
    api_key: str,
    region_code: str,
    start: str,
    end: str,
    page_size: int = 5000,
    http_get: HttpGet = _default_http_get,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict]:
    """Paginated hourly demand (reference data_fetcher.py:57-125): count
    probe with length=0 (:73-87), then offset pages of ``page_size``
    sorted asc by period (:94-119)."""
    base = {
        "api_key": api_key,
        "frequency": "hourly",
        "data[0]": "value",
        "facets[respondent][]": region_code,
        "facets[type][]": "D",
        "start": start,
        "end": end,
        "sort[0][column]": "period",
        "sort[0][direction]": "asc",
    }
    probe = fetch_with_retries(
        EIA_URL, {**base, "length": 0}, {}, http_get=http_get, sleep=sleep
    )
    total = int((probe.get("response") or {}).get("total") or 0)
    pages = []
    for offset in range(0, total, page_size):
        pages.append(
            fetch_with_retries(
                EIA_URL,
                {**base, "offset": offset, "length": page_size},
                {},
                http_get=http_get,
                sleep=sleep,
            )
        )
    return pages


def landing_path(
    raw_dir: str, kind: str, city: str, start: dt.date, end: dt.date
) -> str:
    """Bronze file of one (kind, city, range): ``{kind}_{city}_{start}_{end}.json``."""
    return os.path.join(raw_dir, f"{kind}_{city}_{start}_{end}.json")


def city_from_landing_path() -> Column:
    """The city of each row, recovered from its ``landing_path`` file name.
    ``_metadata.file_name`` is URI-encoded except that ``+`` stays literal,
    so ``+`` is escaped before decoding. Kind and dates hold no ``_``; the
    city may."""
    name = F.url_decode(F.replace(F.col("_metadata.file_name"), F.lit("+"), F.lit("%2B")))
    return F.regexp_extract(name, r"^[^_]*_(.*)_[^_]*_[^_]*\.json$", 1)


def land_json(payload: dict, path: str) -> None:
    """Bronze-zone sink: persist the raw payload verbatim (reference S4
    `data_fetcher.py:50-53`)."""
    with open(path, "w") as f:
        json.dump(payload, f)
