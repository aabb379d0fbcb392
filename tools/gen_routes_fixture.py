#!/usr/bin/env python3
"""Write the small routes fixture the sink and typed-route specs read.

Usage: tools/gen_routes_fixture.py [out]
       (default src/test/resources/routes/routes.jsonl.gz)

Records follow FIXTURES.md §1 (nested airline / src_airport /
dst_airport structs, codeshare, equipment, 12-char geohash of the
source airport): 520 routes between 24 airports on 8 airlines, seeded,
so the same bytes every time. Most rows are complete; a few have no
src_airport or a null source latitude/longitude (and then no geohash),
the two gaps the reference's records have.
"""
import gzip
import json
import os
import random
import sys

B32 = "0123456789bcdefghjkmnpqrstuvwxyz"

# name, city, country, iata, icao, lat, lon, altitude ft, utc offset, tz
AIRPORTS = [
    ("Adak Airport", "Adak Island", "United States", "ADK", "PADK",
     51.8779983521, -176.64599609375, 18, -10, "America/Adak"),
    ("Eppley Airfield", "Omaha", "United States", "OMA", "KOMA",
     41.3031997681, -95.8940963745, 984, -6, "America/Chicago"),
    ("Astrakhan Airport", "Astrakhan", "Russia", "ASF", "URWA",
     46.2832984924, 48.0063018799, -65, 4, "Europe/Samara"),
    ("Ted Stevens Anchorage International Airport", "Anchorage",
     "United States", "ANC", "PANC", 61.1744003296, -149.996002197, 152,
     -9, "America/Anchorage"),
    ("Heathrow Airport", "London", "United Kingdom", "LHR", "EGLL",
     51.4706, -0.461941, 83, 0, "Europe/London"),
    ("Charles de Gaulle International Airport", "Paris", "France", "CDG",
     "LFPG", 49.0127983093, 2.54999995232, 392, 1, "Europe/Paris"),
    ("Frankfurt am Main Airport", "Frankfurt", "Germany", "FRA", "EDDF",
     50.0264015198, 8.54312992096, 364, 1, "Europe/Berlin"),
    ("Sheremetyevo International Airport", "Moscow", "Russia", "SVO",
     "UUEE", 55.972599, 37.4146, 622, 3, "Europe/Moscow"),
    ("Helsinki Vantaa Airport", "Helsinki", "Finland", "HEL", "EFHK",
     60.3172, 24.963301, 179, 2, "Europe/Helsinki"),
    ("Keflavik International Airport", "Keflavik", "Iceland", "KEF",
     "BIKF", 63.9850006104, -22.6056003571, 171, 0, "Atlantic/Reykjavik"),
    ("Chicago O'Hare International Airport", "Chicago", "United States",
     "ORD", "KORD", 41.9786, -87.9048, 672, -6, "America/Chicago"),
    ("Denver International Airport", "Denver", "United States", "DEN",
     "KDEN", 39.861698150635, -104.672996521, 5431, -7, "America/Denver"),
    ("Los Angeles International Airport", "Los Angeles", "United States",
     "LAX", "KLAX", 33.94250107, -118.4079971, 125, -8,
     "America/Los_Angeles"),
    ("Vancouver International Airport", "Vancouver", "Canada", "YVR",
     "CYVR", 49.193901062, -123.183998108, 14, -8, "America/Vancouver"),
    ("Mexico City International Airport", "Mexico City", "Mexico", "MEX",
     "MMMX", 19.4363, -99.072098, 7316, -6, "America/Mexico_City"),
    ("Guarulhos International Airport", "Sao Paulo", "Brazil", "GRU",
     "SBGR", -23.4355564117, -46.4730567932, 2459, -3,
     "America/Sao_Paulo"),
    ("O. R. Tambo International Airport", "Johannesburg", "South Africa",
     "JNB", "FAOR", -26.1392, 28.246, 5558, 2, "Africa/Johannesburg"),
    ("Cairo International Airport", "Cairo", "Egypt", "CAI", "HECA",
     30.1219005585, 31.4055995941, 382, 2, "Africa/Cairo"),
    ("Dubai International Airport", "Dubai", "United Arab Emirates", "DXB",
     "OMDB", 25.2527999878, 55.3643989563, 62, 4, "Asia/Dubai"),
    ("Indira Gandhi International Airport", "Delhi", "India", "DEL",
     "VIDP", 28.5665, 77.103104, 777, 5.5, "Asia/Kolkata"),
    ("Singapore Changi Airport", "Singapore", "Singapore", "SIN", "WSSS",
     1.35019, 103.994003, 22, 8, "Asia/Singapore"),
    ("Tokyo Haneda International Airport", "Tokyo", "Japan", "HND", "RJTT",
     35.552299, 139.779999, 35, 9, "Asia/Tokyo"),
    ("Sydney Kingsford Smith International Airport", "Sydney", "Australia",
     "SYD", "YSSY", -33.9460983276, 151.177001953, 21, 10,
     "Australia/Sydney"),
    ("Auckland International Airport", "Auckland", "New Zealand", "AKL",
     "NZAA", -37.0080986023, 174.792007446, 23, 12, "Pacific/Auckland"),
]

# id, name, iata, icao, callsign, country, active
AIRLINES = [
    (24, "American Airlines", "AA", "AAL", "AMERICAN", "United States", True),
    (1355, "British Airways", "BA", "BAW", "SPEEDBIRD", "United Kingdom",
     True),
    (3090, "Lufthansa", "LH", "DLH", "LUFTHANSA", "Germany", True),
    (130, "Aeroflot Russian Airlines", "SU", "AFL", "AEROFLOT", "Russia",
     True),
    (2009, "Finnair", "AY", "FIN", "FINNAIR", "Finland", True),
    (4091, "Qantas", "QF", "QFA", "QANTAS", "Australia", True),
    (5347, "Singapore Airlines", "SQ", "SIA", "SINGAPORE", "Singapore",
     True),
    (5209, "Skyways", "JZ", "SKX", "SKY EXPRESS", "Sweden", False),
]

EQUIPMENT = ["734", "73Q", "320", "321", "738", "744", "77W", "CR2", "E90"]


def geohash(lat, lon, n=12):
    """Standard base-32 geohash: bits alternate longitude, latitude."""
    lo, hi = [-90.0, -180.0], [90.0, 180.0]
    out, bits, ch, even = [], 0, 0, True
    while len(out) < n:
        i = 1 if even else 0
        mid = (lo[i] + hi[i]) / 2
        v = lon if even else lat
        ch <<= 1
        if v >= mid:
            ch |= 1
            lo[i] = mid
        else:
            hi[i] = mid
        even, bits = not even, bits + 1
        if bits == 5:
            out.append(B32[ch])
            bits, ch = 0, 0
    return "".join(out)


def airport(k, a):
    name, city, country, iata, icao, lat, lon, alt, tz, tz_id = a
    return {"airport_id": 100 + k, "name": name, "city": city,
            "country": country, "iata": iata, "icao": icao,
            "latitude": lat, "longitude": lon, "altitude": alt,
            "timezone": float(tz), "dst": "U",
            "tz_id": tz_id, "type": "airport", "source": "OurAirports"}


def routes(n=520, seed=7):
    rng = random.Random(seed)
    for i in range(n):
        aid, name, iata, icao, callsign, country, active = \
            AIRLINES[i % len(AIRLINES)]
        s, d = rng.sample(range(len(AIRPORTS)), 2)
        src, dst = airport(s, AIRPORTS[s]), airport(d, AIRPORTS[d])
        if i % 97 == 13:
            src = None
        elif i % 89 == 5:
            src["latitude" if i % 2 else "longitude"] = None
        r = {"airline": {"airline_id": aid, "name": name, "alias": None,
                         "iata": iata, "icao": icao, "callsign": callsign,
                         "country": country, "active": active},
             "src_airport": src, "dst_airport": dst,
             "codeshare": rng.random() < 0.2,
             "equipment": rng.sample(EQUIPMENT, rng.randint(1, 3))}
        if src and src["latitude"] is not None \
                and src["longitude"] is not None:
            r["geohash"] = geohash(src["latitude"], src["longitude"])
        yield r


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    out = argv[1] if len(argv) > 1 else os.path.join(
        here, "..", "src", "test", "resources", "routes", "routes.jsonl.gz")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    text = "".join(json.dumps(r, sort_keys=True) + "\n" for r in routes())
    # no file name or time in the gzip header: same bytes from any path
    with open(out, "wb") as f, \
            gzip.GzipFile("", "wb", fileobj=f, mtime=0) as g:
        g.write(text.encode())


if __name__ == "__main__":
    main(sys.argv)
