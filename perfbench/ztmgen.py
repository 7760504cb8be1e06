"""Seeded generator of a ZTM feed tree for one service day.

Writes the landing layout the pipeline reads (``sources.csv_feeds``):

    gtfs/2024/12/25/{routes,trips,stops,stop_times}.csv
    delays/2024/12/25/delays_HH.csv     one file per logical hour
    weather/2024/12/25/weather_HH.csv   one file per logical hour
    ztm_vehicles_detailed.csv

The values follow FIXTURES.md: dirty vehicle years, null and blank vehicle
numbers, stop names shared by two stop ids, trips without stop_times,
frequency ties in the trip statistics, delay rows repeated in the next
hour's file, early ("przed czasem") and zero delays, and null weather
fields. Every hour keeps a joinable station-12375 weather row, so every
hour lands DelayFact rows. Other stations sort after "12375": the
hour-level weather dedup keeps the lowest station id, and a lower one
would silently empty the hour's facts.

The volumes (``N_ROUTES``, ``N_STOPS``, ``N_VEHICLES``, trips per route,
stops per trip, one to three weather rows an hour) are arbitrary: they
are not taken from the real feed, whose counts FIXTURES.md does not give.
NOTES.md records how little doubling the GTFS and vehicle tables moves
the measured hour.

The same seed gives a byte-identical tree.
"""

from __future__ import annotations

import os
import random

DAY = (2024, 12, 25)
DAY_DIR = "2024/12/25"
DELAYS_HEADER = ["Timestamp", "Delay", "Route", "Stop Name", "Vehicle No"]
WEATHER_HEADER = [
    "id_stacji", "data_pomiaru", "godzina_pomiaru", "temperatura", "suma_opadu",
    "predkosc_wiatru", "kierunek_wiatru", "wilgotnosc_wzgledna", "cisnienie",
]

N_ROUTES = 120
N_STOPS = 1200
N_VEHICLES = 600
TRIPS_PER_ROUTE = (0, 24)
STOPS_PER_TRIP = (4, 18)
DUP_SHARE = 0.01  # delay rows repeated in the next hour's file
BLANK_VEHICLE_SHARE = 0.02

_MANUFACTURERS = ["Solaris", "Mercedes", "Pesa", "Skoda", "MAN", "Volvo"]
_TYPES = ["Urbino 12", "Urbino 18", "Citaro", "Swing", "Jazz", "Artic", "Lion's City"]
_CARRIERS = ["GAiT", "BP Tour", "PKS Gdansk", "Warbus"]
_STREETS = [
    "Plac Solidarnosci", "Brama Wyzynna", "Opera Baltycka", "Dworzec Glowny",
    "Zaspa", "Oliwa", "Wrzeszcz", "Przymorze", "Jelitkowo", "Stogi", "Orunia",
    "Chelm", "Siedlce", "Morena", "Osowa", "Brzezno", "Letnica", "Nowy Port",
]
# temperature / wind / humidity / precipitation bands that together reach
# every general_circumstances label
_TEMPS = [-6.5, -1.0, 1.9, 2.0, 4.4, 9.9, 10.0, 15.5, 25.0, 26.3, 36.1]
_WINDS = [0.4, 2.5, 4.9, 5.0, 7.5, 9.9, 10.0, 14.9, 15.1, 21.0]
_HUMIDITY = [45.0, 69.9, 70.0, 80.0, 90.0, 90.1, 97.0]
_PRECIP = [0.0, 0.0, 0.2, 2.6, 5.4, 6.1, 8.3, None]
_PRESSURE = [990.4, 1002.8, 1013.2, 1020.7, None]


def _write(path: str, header: list[str], rows) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = 0
    with open(path, "w", newline="") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join("" if v is None else str(v) for v in r) + "\n")
            n += 1
    return n


def _gtfs(rng: random.Random):
    routes = []
    for i in range(N_ROUTES):
        rid = f"N{i}" if i % 10 == 9 else str(100 + i)
        routes.append((rid, rng.choice([0, 0, 2, 3, 3, 3, 11])))
    stops = []
    for i in range(N_STOPS):
        name = f"{_STREETS[i % len(_STREETS)]} {i // len(_STREETS):02d}"
        if i % 50 == 1:
            name = stops[-1][1]  # two stop ids share one display name
        lat = f"{54.30 + rng.random() * 0.15:.5f}"
        lon = f"{18.50 + rng.random() * 0.20:.5f}"
        stops.append((f"s{i}", name, lat, lon))
    trips, stop_times = [], []
    for rid, _ in routes:
        n_trips = rng.randint(*TRIPS_PER_ROUTE)
        # few distinct trip shapes per route, so the per-route mode has ties
        shapes = [rng.randint(*STOPS_PER_TRIP) for _ in range(3)]
        for _ in range(n_trips):
            tid = f"t{len(trips)}"
            trips.append((rid, tid))
            r = rng.random()
            if r < 0.03:
                continue  # trip without stop_times: coalesce(..., 0) path
            n_stops = rng.choice(shapes)
            first = rng.randrange(N_STOPS)
            for k in range(n_stops):
                dist = None if r < 0.05 else round(1.5 * k, 1)
                stop_times.append((tid, f"s{(first + 7 * k) % N_STOPS}", dist))
    return routes, trips, stops, stop_times


def _vehicles(rng: random.Random):
    rows = []
    for i in range(N_VEHICLES):
        year = str(rng.randint(1995, 2023))
        brand = rng.choice(_MANUFACTURERS)
        model = rng.choice(_TYPES)
        r = rng.random()
        if r < 0.02:
            year = rng.choice(["2015a", "n/a", None])
        elif r < 0.03:
            brand = rng.choice(["", None])
        elif r < 0.04:
            model = None
        rows.append((f"v{1000 + i}", brand, model, year, rng.choice(_CARRIERS)))
    rows.append((None, "Solaris", "Urbino 12", "2019", "GAiT"))  # null number
    rows.append(("  ", "Solaris", "Urbino 12", "2019", "GAiT"))  # blank number
    return rows


def _delay_rows(rng: random.Random, hour: int, n: int, routes, stop_names, vehicles):
    rows = []
    for _ in range(n):
        ts = f"2024-12-25T{hour:02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
        r = rng.random()
        if r < 0.15:
            delay = f"{rng.randint(1, 6)} min przed czasem"
        elif r < 0.25:
            delay = "0 min"
        else:
            delay = f"{rng.randint(1, 40)} min"
        vehicle = rng.choice(vehicles)
        if rng.random() < BLANK_VEHICLE_SHARE:
            vehicle = None
        rows.append((ts, delay, rng.choice(routes), rng.choice(stop_names), vehicle))
    return rows


def _weather_row(rng: random.Random, hour: int, station: str = "12375", temp="draw"):
    return (
        station,
        "2024-12-25",
        hour,
        rng.choice(_TEMPS) if temp == "draw" else temp,
        rng.choice(_PRECIP),
        rng.choice(_WINDS),
        rng.randrange(360),
        rng.choice(_HUMIDITY),
        rng.choice(_PRESSURE),
    )


def generate(root: str, seed: int, delay_rows_per_hour: int = 10_000) -> dict[str, int]:
    """Write the feed tree under ``root``; returns row counts per feed."""
    rng = random.Random(seed)
    routes, trips, stops, stop_times = _gtfs(rng)
    vehicles = _vehicles(rng)
    gtfs = os.path.join(root, "gtfs", DAY_DIR)
    counts = {
        "routes": _write(os.path.join(gtfs, "routes.csv"), ["route_id", "route_type"], routes),
        "trips": _write(os.path.join(gtfs, "trips.csv"), ["route_id", "trip_id"], trips),
        "stops": _write(
            os.path.join(gtfs, "stops.csv"), ["stop_id", "stop_name", "stop_lat", "stop_lon"], stops
        ),
        "stop_times": _write(
            os.path.join(gtfs, "stop_times.csv"),
            ["trip_id", "stop_id", "shape_dist_traveled"],
            stop_times,
        ),
        "vehicles": _write(
            os.path.join(root, "ztm_vehicles_detailed.csv"),
            ["vehicle_number", "manufacturer", "type", "production_year", "carrier"],
            vehicles,
        ),
    }

    route_ids = [r[0] for r in routes]
    stop_names = [s[1] for s in stops]
    vehicle_ids = [v[0] for v in vehicles[:N_VEHICLES]]
    by_hour = [
        _delay_rows(rng, h, delay_rows_per_hour, route_ids, stop_names, vehicle_ids)
        for h in range(24)
    ]
    counts["delays"] = 0
    for h in range(24):
        prev = by_hour[h - 1]  # hour 0 re-ships rows of hour 23
        repeated = prev[: int(len(prev) * DUP_SHARE)]
        counts["delays"] += _write(
            os.path.join(root, "delays", DAY_DIR, f"delays_{h:02d}.csv"),
            DELAYS_HEADER,
            by_hour[h] + repeated,
        )

    weather = [_weather_row(rng, h) for h in range(24)]
    counts["weather"] = 0
    for h in range(24):
        rows = [weather[h]]
        if h % 3 == 0:
            rows.append(weather[h - 1])  # previous hour re-shipped identically
        if h % 4 == 1:
            rows.append(_weather_row(rng, h, temp=None))  # null temperature loses the dedup
        if h % 5 == 2:
            rows.append(_weather_row(rng, h, station="99999"))  # other station: dropped
        counts["weather"] += _write(
            os.path.join(root, "weather", DAY_DIR, f"weather_{h:02d}.csv"), WEATHER_HEADER, rows
        )
    return counts
