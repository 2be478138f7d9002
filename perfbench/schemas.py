"""Schemas the workloads feed to the DataSynthesizer processor, in the
log-synth JSON format: a basic-style record (numbers, names, dates,
distributions, a foreign key) and an identifier-style record (uuid,
IMEI, SSN, VIN, MAC, addresses, user agents)."""

BASIC_SCHEMA = [
    {"name": "rec_id", "class": "id"},
    {"name": "qty", "class": "int", "min": 1, "max": 50},
    {"name": "price", "class": "double", "min": 0, "max": 1000},
    {"name": "segment", "class": "string", "dist": {"A": 5, "B": 3, "C": 2}},
    {"name": "full_name", "class": "name"},
    {"name": "email", "class": "email"},
    {"name": "signup", "class": "date", "start": "2020-01-01", "end": "2024-01-01"},
    {"name": "signup_ts", "class": "date", "format": "yyyy-MM-dd HH:mm:ss",
     "start": "2020-01-01", "end": "2024-01-01"},
    {"name": "score", "class": "normal", "mean": 100, "sd": 15},
    {"name": "wait", "class": "gamma", "alpha": 3, "beta": 2},
    {"name": "customer_fk", "class": "foreign-key", "size": 500, "skew": 1},
    {"name": "fav_word", "class": "word"},
    {"name": "state", "class": "state"},
    {"name": "country", "class": "country"},
    {"name": "addr", "class": "address"},
]

IDENT_SCHEMA = [
    {"name": "rec_id", "class": "id"},
    {"name": "uid", "class": "uuid"},
    {"name": "imei", "class": "imei"},
    {"name": "ssn", "class": "ssn"},
    {"name": "vin", "class": "vin"},
    {"name": "mac", "class": "mac"},
    {"name": "ip", "class": "ipv4"},
    {"name": "plate", "class": "license-plate"},
    {"name": "user", "class": "username"},
    {"name": "site", "class": "domain"},
    {"name": "ua_browser", "class": "browser"},
    {"name": "ua_os", "class": "os"},
    {"name": "lang", "class": "language"},
]
