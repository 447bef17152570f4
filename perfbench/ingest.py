"""Raw NDJSON hours for the ``mart_ingest`` workload, and their oracle.

Each hour holds one long-format record per (location, parameter), in the
shape of FIXTURES.md section 1:

- local timestamps with mixed ``+07:00``, ``Z`` and ``+08:00`` offsets;
- about 3% exact duplicate records;
- a redelivery of 10% of the previous hour's locations, with corrected
  values (all parameters of each redelivered location-hour);
- locations whose city is always null.

A location's metadata and parameter set never change, so "the newest
batch wins per (location_id, datetime)" is the whole expected mart, which
``expected_mart_sql`` recomputes in DuckDB from the landed files.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta, timezone

PARAMETERS = ("pm25", "pm10", "no2", "so2", "o3", "co", "bc")
_OFFSETS = (("+07:00", 7), ("Z", 0), ("+08:00", 8))
_BASE = datetime(2025, 3, 1, tzinfo=timezone.utc)


class RawHours:
    """Seeded generator of the raw zone's hourly files."""

    def __init__(self, seed: int, locations: int) -> None:
        self.rng = random.Random(seed)
        rng = self.rng
        self.locations = []
        for i in range(locations):
            params = [p for p in PARAMETERS if rng.random() < 0.8] or ["pm25"]
            self.locations.append({
                "id": str(10000 + i),
                "offset": _OFFSETS[i % 3],
                "city": None if i % 20 == 0 else f"City-{i % 37}",
                "country": "VN" if i % 4 else "TH",
                "latitude": round(rng.uniform(8.0, 23.0), 4),
                "longitude": round(rng.uniform(102.0, 109.0), 4),
                "params": params,
            })

    @staticmethod
    def utc(hour: int) -> datetime:
        return _BASE + timedelta(hours=hour)

    def _records(self, hour: int, locations, correction: float) -> list[dict]:
        t = self.utc(hour)
        out = []
        for loc in locations:
            suffix, shift = loc["offset"]
            local = (t + timedelta(hours=shift)).strftime("%Y-%m-%dT%H:%M:%S")
            for p in loc["params"]:
                out.append({
                    "location_id": loc["id"],
                    "sensor_id": int(loc["id"]) * 10 + PARAMETERS.index(p),
                    "datetime": local + suffix,
                    "parameter": p,
                    "value": round(self.rng.uniform(0.0, 300.0), 1) + correction,
                    "unit": "ug/m3",
                    "city": loc["city"],
                    "country": loc["country"],
                    "latitude": loc["latitude"],
                    "longitude": loc["longitude"],
                    "extracted_at": (t + timedelta(minutes=50)).isoformat(),
                })
        return out

    def hour_ndjson(self, hour: int) -> tuple[str, int]:
        """The NDJSON text of one hour's file, and its record count."""
        rng = self.rng
        recs = self._records(hour, self.locations, 0.0)
        recs += [dict(r) for r in rng.sample(recs, len(recs) * 3 // 100)]
        if hour > 0:
            redelivered = rng.sample(self.locations, len(self.locations) // 10)
            recs += self._records(hour - 1, redelivered, 0.5)
        rng.shuffle(recs)
        return "".join(json.dumps(r) + "\n" for r in recs), len(recs)


def expected_mart_sql(files: list[str]) -> str:
    """DuckDB SQL for the mart after merging ``files`` in list order.

    Per batch: parse to UTC, drop exact duplicates, pivot each parameter
    (one value per key, so the mean is that value), fill a null city with
    "Unknown". Across batches the newest batch wins per key.
    """
    listed = ", ".join(f"'{f}'" for f in files)
    order = " ".join(f"WHEN '{f}' THEN {i}" for i, f in enumerate(files))
    pivots = ",\n".join(
        f"avg(value) FILTER (WHERE parameter = '{p}') AS {p}" for p in PARAMETERS
    )
    cols = ", ".join(PARAMETERS)
    return f"""
    WITH raw AS (
        SELECT *, CASE filename {order} END AS batch
        FROM read_json([{listed}], format = 'newline_delimited',
                       filename = true, columns = {{
            location_id: 'VARCHAR', datetime: 'VARCHAR', parameter: 'VARCHAR',
            value: 'DOUBLE', city: 'VARCHAR', country: 'VARCHAR',
            latitude: 'DOUBLE', longitude: 'DOUBLE'}})
    ), parsed AS (
        SELECT DISTINCT batch, location_id,
               CAST(CAST(datetime AS TIMESTAMPTZ) AS TIMESTAMP) AS ts,
               parameter, value, city, country, latitude, longitude
        FROM raw
    ), wide AS (
        SELECT batch, location_id, ts,
               {pivots},
               coalesce(any_value(city), 'Unknown') AS city_name,
               any_value(country) AS country_code,
               any_value(latitude) AS latitude,
               any_value(longitude) AS longitude
        FROM parsed GROUP BY batch, location_id, ts
    )
    SELECT location_id, ts AS datetime,
           strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
           strftime(ts, '%d') AS day, {cols},
           city_name, country_code, latitude, longitude
    FROM wide
    QUALIFY row_number() OVER (PARTITION BY location_id, ts
                               ORDER BY batch DESC) = 1
    """
