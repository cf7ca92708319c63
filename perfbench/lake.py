"""Seeded OpenAQ-shaped NDJSON lake generator.

Writes one logical day at a time in the reference's lake layout
(``<root>/{locations,measurements}/YYYY/MM/DD/*_part{N}.ndjson``) and
returns, per day, what was planted in it, so the benchmark can check the
pipeline's quality-suite counts against an independent expectation.

Planted defects (FIXTURES.md §5):

- re-extracted duplicates: identical measurement payloads extracted an
  hour later, and identical location snapshots re-extracted the same day;
- metadata drift: locality and provider change across daily snapshots.
  Only columns outside the marts' grouping keys drift, so drift shows in
  ``dim_locations`` (SCD-1 latest pick) without splitting mart rows;
- null values, ``hasFlags: true``, missing ``hasFlags`` and out-of-range
  values (negative pollutant, temperature -100, humidity 140, wind
  direction 400);
- corrupt lines (malformed JSON, a non-object record, a blank line);
- orphan sensors: measurements whose sensor no location declares;
- a location with an empty sensor array and one with no sensor key.

Extraction times are fixed offsets from each logical date, not from the
wall clock, so the lake's content depends on the seed alone. Freshness
therefore reflects the fixed dates, and the benchmark runs ``build``
with ``freshness=False``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

START = dt.date(2025, 3, 1)

# parameter id -> (name, units, low, high) of generated valid values
PARAMETERS = {
    1: ("pm10", "µg/m³", 2.0, 120.0),
    2: ("pm25", "µg/m³", 1.0, 80.0),
    3: ("o3", "µg/m³", 5.0, 150.0),
    5: ("no2", "µg/m³", 1.0, 90.0),
    15: ("no2", "ppb", 1.0, 50.0),
    19: ("pm1", "µg/m³", 0.5, 40.0),
    102: ("co", "ppb", 50.0, 900.0),
    125: ("um003", "particles/cm³", 10.0, 3000.0),
    100: ("temperature", "c", -20.0, 40.0),
    98: ("relativehumidity", "%", 5.0, 99.0),
    34: ("windspeed", "m/s", 0.0, 20.0),
    22: ("winddirection", "deg", 0.0, 360.0),
}
# physically impossible value per parameter (all fail int_valid_measurements)
OUT_OF_RANGE = {100: -100.0, 98: 140.0, 22: 400.0}

COUNTRIES = [
    ("US", "United States", "America/New_York"),
    ("US", "United States", "America/Denver"),
    ("ES", "Spain", "Europe/Madrid"),
    ("FR", "France", "Europe/Paris"),
    ("DE", "Germany", "Europe/Berlin"),
    ("IN", "India", "Asia/Kolkata"),
    ("BR", "Brazil", "America/Sao_Paulo"),
    ("ZA", "South Africa", "Africa/Johannesburg"),
]
PROVIDERS = ["AirNow", "EEA", "CPCB", "Clarity", "PurpleAir"]
CORRUPT_LINES = ["{not valid json]", "[1, 2, 3]", ""]
ORPHAN_SENSOR_BASE = 9_000_000

# REFERENCE_SUITE check names (quality.Check.name) whose failure count is
# planted; every other check must report 0
CHECK_NULL_VALUE = "not_null:stg_openaq__measurements.measurement_value"
CHECK_ORPHAN = "relationships:stg_openaq__measurements.sensor_parameter_key"


@dataclass
class Day:
    """One generated logical day and what was planted in it."""

    date: dt.date
    locations_glob: str
    measurements_glob: str
    records: int = 0  # well-formed records written (locations + measurements)
    input_bytes: int = 0
    planted: dict[str, int] = field(default_factory=dict)


@dataclass
class Location:
    id: int
    name: str
    country: tuple[str, str, str]
    lat: float
    lon: float
    sensors: list[dict] | None
    locality: str | None
    city: str | None
    provider: str


def _hour(date: dt.date, h: int) -> str:
    return f"{date.isoformat()}T{h:02d}:00:00Z"


class Lake:
    """Generates the network once from the seed, then one day per
    :meth:`write_day` call. Metadata drift carries over from day to day,
    so days are written in order from 0."""

    def __init__(self, root: str, seed: int, n_locations: int):
        self.root = root
        self.seed = seed
        rng = random.Random(seed)
        self.locations: list[Location] = []
        pids = list(PARAMETERS)
        for i in range(n_locations):
            lid = 1000 + i
            country = rng.choice(COUNTRIES)
            chosen = rng.sample(pids, rng.randint(3, 6))
            sensors = [
                {
                    "id": lid * 10 + j,
                    "name": f"{PARAMETERS[p][0]} {PARAMETERS[p][1]}",
                    "parameter": {
                        "id": p,
                        "name": PARAMETERS[p][0],
                        "units": PARAMETERS[p][1],
                    },
                }
                for j, p in enumerate(chosen)
            ]
            style = i % 3  # locality chain: locality / city fallback / timezone
            self.locations.append(
                Location(
                    id=lid,
                    name=f"Station {lid}",
                    country=country,
                    lat=round(rng.uniform(-60, 60), 4),
                    lon=round(rng.uniform(-170, 170), 4),
                    sensors=sensors,
                    locality=f"Town {lid}" if style == 0 else None,
                    city=f"City {lid}" if style == 1 else None,
                    provider=rng.choice(PROVIDERS),
                )
            )
        # a location with an empty sensor array and one without the key
        for lid, sensors in ((1000 + n_locations, []), (1001 + n_locations, None)):
            self.locations.append(
                Location(lid, f"Station {lid}", COUNTRIES[0], 40.0, -74.0,
                         sensors, None, None, "AirNow")
            )

    def write_day(self, index: int) -> Day:
        """Write logical day ``index`` (0-based) and return its record."""
        rng = random.Random(self.seed * 1_000_003 + index)
        date = START + dt.timedelta(days=index)
        ymd = date.strftime("%Y/%m/%d")
        run_id = f"scheduled__{date.isoformat()}T06:00:00+00:00"
        day = Day(
            date=date,
            locations_glob=os.path.join(self.root, "locations", ymd, "*.ndjson"),
            measurements_glob=os.path.join(self.root, "measurements", ymd, "*.ndjson"),
            planted={CHECK_NULL_VALUE: 0, CHECK_ORPHAN: 0},
        )

        loc_rows = []
        for k, loc in enumerate(self.locations):
            if index > 0 and rng.random() < 0.1:  # metadata drift
                loc.provider = rng.choice(PROVIDERS)
                if loc.locality is not None:
                    loc.locality = f"Town {loc.id} rev{index}"
            payload = {
                "id": loc.id,
                "name": loc.name,
                "locality": loc.locality,
                "city": loc.city,
                "timezone": loc.country[2],
                "country": {"code": loc.country[0], "name": loc.country[1]},
                "coordinates": {"latitude": loc.lat, "longitude": loc.lon},
                "provider": {"name": loc.provider},
                "isMobile": False,
                "isMonitor": True,
            }
            if loc.sensors is not None:
                payload["sensors"] = loc.sensors
            extracted = f"{date.isoformat()}T06:{k // 60 % 60:02d}:{k % 60:02d}Z"
            row = {
                "data": payload,
                "_audit_run_id": run_id,
                "_audit_logical_date": date.isoformat(),
                "_audit_extracted_at": extracted,
                "_audit_source": "OpenAQ API",
                "_audit_gcs_filename": f"locations/{ymd}/locations_part0.ndjson",
            }
            loc_rows.append(row)
            if rng.random() < 0.05:  # same snapshot re-extracted an hour later
                loc_rows.append(
                    dict(row, _audit_extracted_at=extracted.replace("T06:", "T07:", 1))
                )

        next_day = date + dt.timedelta(days=1)
        mea_rows = []
        for loc in self.locations:
            for sensor in loc.sensors or []:
                pid = sensor["parameter"]["id"]
                _, units, lo, hi = PARAMETERS[pid]
                for h in range(24):
                    value = round(rng.uniform(lo, hi), 1)
                    flag_info: dict = {"hasFlags": False}
                    r = rng.random()
                    if r < 0.004:
                        value = None
                        day.planted[CHECK_NULL_VALUE] += 1
                    elif r < 0.008:
                        flag_info = {"hasFlags": True}
                    elif r < 0.012:
                        flag_info = {}
                    elif r < 0.016:
                        value = OUT_OF_RANGE.get(pid, -5.0)
                    row = self._measurement(
                        sensor["id"], pid, units, value, flag_info, date, h,
                        f"{next_day.isoformat()}T06:10:00Z", run_id, ymd,
                    )
                    mea_rows.append(row)
                    if value is not None and r > 0.98:  # re-extracted duplicate
                        mea_rows.append(
                            dict(row, _audit_extracted_at=f"{next_day.isoformat()}T07:10:00Z")
                        )
        for j in range(1 + rng.randrange(3)):  # orphan sensors
            mea_rows.append(
                self._measurement(
                    ORPHAN_SENSOR_BASE + index * 10 + j, 2, "µg/m³", 5.0,
                    {"hasFlags": False}, date, rng.randrange(24),
                    f"{next_day.isoformat()}T06:10:00Z", run_id, ymd,
                )
            )
            day.planted[CHECK_ORPHAN] += 1

        day.records = len(loc_rows) + len(mea_rows)
        day.input_bytes = self._write_chunks("locations", ymd, loc_rows, 1000, rng)
        day.input_bytes += self._write_chunks("measurements", ymd, mea_rows, 2000, rng)
        return day

    @staticmethod
    def _measurement(sensor_id, pid, units, value, flag_info, date, h,
                     extracted, run_id, ymd) -> dict:
        return {
            "data": {
                "value": value,
                "parameter": {"id": pid, "name": PARAMETERS[pid][0], "units": units},
                "period": {
                    "datetimeFrom": {"utc": _hour(date, h)},
                    "datetimeTo": {"utc": _hour(date, h + 1) if h < 23 else
                                   _hour(date + dt.timedelta(days=1), 0)},
                    "interval": "01:00:00",
                },
                "flagInfo": flag_info,
            },
            "_audit_run_id": run_id,
            "_audit_sensor_id": sensor_id,
            "_audit_logical_date": date.isoformat(),
            "_audit_extracted_at": extracted,
            "_audit_gcs_filename": f"measurements/{ymd}/measurements.ndjson",
        }

    def _write_chunks(self, kind: str, ymd: str, rows: list[dict],
                      chunk: int, rng: random.Random) -> int:
        """Write ``rows`` in reference-sized chunks, one corrupt line
        placed at a seeded position of each chunk; returns bytes written."""
        out_dir = os.path.join(self.root, kind, ymd)
        os.makedirs(out_dir, exist_ok=True)
        written = 0
        for part, start in enumerate(range(0, len(rows), chunk)):
            lines = [json.dumps(r, ensure_ascii=False) for r in rows[start:start + chunk]]
            lines.insert(rng.randrange(len(lines) + 1), CORRUPT_LINES[part % 3])
            data = ("\n".join(lines) + "\n").encode("utf-8")
            path = os.path.join(out_dir, f"{kind}_part{part}.ndjson")
            with open(path, "wb") as f:
                f.write(data)
            written += len(data)
        return written
