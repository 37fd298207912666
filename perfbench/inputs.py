"""Seeded inputs for the ``etl_daily`` workload and the size report of
the fixed lake the query workloads read.

``etl_daily`` loads one OpenWeatherMap payload per city per day.  The
payload of (seed, day, city) is a pure function of those three values,
so the offline fetcher can rebuild it inside a Python worker from its
URL alone: no network, no sleeps, and the same seed gives byte-identical
documents on every run.
"""

from __future__ import annotations

import json
import os
import random

OWM_HOST = "offline-owm"
BASE_EPOCH = 1742169600            # 2025-03-17 00:00:00 UTC
STATES = ("Texas", "Illinois", "Washington", "Ohio", "Oregon", "Utah",
          "Georgia", "Nevada", "Kansas", "Maine", "Iowa", "Idaho")
SKIES = ((800, "Clear", "clear sky", "01d"),
         (801, "Clouds", "few clouds", "02d"),
         (803, "Clouds", "broken clouds", "04d"),
         (500, "Rain", "light rain", "10d"),
         (600, "Snow", "light snow", "13d"),
         (701, "Mist", "mist", "50d"))
_SYLLABLES = ("ba", "cor", "dal", "en", "fair", "gle", "hol", "ing", "jo",
              "ken", "lan", "mor", "nor", "os", "port", "quin", "ridge",
              "sal", "ton", "vil", "wes", "york")


def cities(seed: int, n: int) -> list[tuple[str, str, int, float]]:
    """``n`` distinct lookup rows (city, state, census_2020, area)."""
    rng = random.Random(f"cities/{seed}")
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < n:
        name = "".join(rng.choice(_SYLLABLES)
                       for _ in range(rng.randint(2, 4))).title()
        if name not in seen:
            seen.add(name)
            names.append(name)
    return [(name, rng.choice(STATES), rng.randint(5_000, 3_000_000),
             round(rng.uniform(5.0, 700.0), 1)) for name in names]


def url(seed: int, day: int, idx: int, city: str) -> str:
    return f"http://{OWM_HOST}/{seed}/{day}/{idx}?q={city}"


def payload(seed: int, day: int, idx: int, city: str) -> dict:
    """One OWM current-weather document (FIXTURES.md A1 shape)."""
    rng = random.Random(f"owm/{seed}/{day}/{idx}")
    tz = -3600 * (5 + idx % 4)
    dt = BASE_EPOCH + 86400 * day + rng.randrange(86400)
    temp = round(rng.uniform(255.0, 310.0), 2)
    wid, main, desc, icon = rng.choice(SKIES)
    return {
        "coord": {"lon": round(rng.uniform(-125, -70), 4),
                  "lat": round(rng.uniform(25, 49), 4)},
        "weather": [{"id": wid, "main": main, "description": desc,
                     "icon": icon}],
        "base": "stations",
        "main": {"temp": temp,
                 "feels_like": round(temp - rng.uniform(0, 4), 2),
                 "temp_min": round(temp - rng.uniform(0, 3), 2),
                 "temp_max": round(temp + rng.uniform(0, 3), 2),
                 "pressure": rng.randint(990, 1040),
                 "humidity": rng.randint(10, 100),
                 "sea_level": rng.randint(990, 1040),
                 "grnd_level": rng.randint(950, 1030)},
        "visibility": rng.choice((10000, 8000, 5000)),
        "wind": {"speed": round(rng.uniform(0, 15), 2),
                 "deg": rng.randrange(360)},
        "clouds": {"all": rng.randrange(101)},
        "dt": dt,
        "sys": {"type": 1, "id": 1000 + idx, "country": "US",
                "sunrise": dt - dt % 86400 + 43200 - tz - 21600,
                "sunset": dt - dt % 86400 + 43200 - tz + 21600},
        "timezone": tz,
        "id": 4_000_000 + idx,
        "name": city,
        "cod": 200,
    }


class OfflineFetcher:
    """The injected ``Fetcher``: rebuilds the payload a URL names and
    counts each call in a Spark accumulator, which also collects the
    calls made inside Python workers."""

    def __init__(self, counter):
        self.counter = counter

    def __call__(self, u: str) -> dict:
        self.counter.add(1)
        path, city = u.split("?q=", 1)
        seed, day, idx = (int(x) for x in path.rsplit("/", 3)[1:])
        return payload(seed, day, idx, city)


def day_bytes(seed: int, day: int, rows) -> int:
    """Bytes of one day's payloads as JSON text."""
    return sum(len(json.dumps(payload(seed, day, i, c[0])))
               for i, c in enumerate(rows))


def lake_size(lake_dir: str) -> dict:
    """Rows and bytes of the parquet lake, read from file footers."""
    import pyarrow.parquet as pq

    rows = size = 0
    for name in sorted(os.listdir(lake_dir)):
        path = os.path.join(lake_dir, name)
        rows += pq.ParquetFile(path).metadata.num_rows
        size += os.path.getsize(path)
    return {"rows": rows, "bytes": size}
