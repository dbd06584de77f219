"""Bronze landing zone: the interface between the raw NOAA/EIA payloads
and the readers.

The reference fetches both APIs over HTTP (S1-S3, `data_fetcher.py:8-125`);
that network I/O dominated its 334 s runtime (BASELINE.md). This port does
not fetch: payloads land verbatim as bronze JSON, one file per (kind,
city, range), and the readers ingest exactly the files that landed.
``landing_path`` names that file and ``city_from_landing_path`` reads the
city back out of it, so the readers need no side channel.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import Column
from pyspark.sql import functions as F


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
