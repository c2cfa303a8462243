"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory, writes only
files (the program under test receives nothing else), and returns the
ground truth the output checks need. The same seed gives byte-identical
files: randomness comes from one ``random.Random(seed)`` or
``numpy.random.default_rng(seed)`` per generator, files are written in
a fixed order with fixed formatting, and parquet files are written
without timestamps in their metadata.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# MotoGP sources in the reference layout
# ---------------------------------------------------------------------------

# Row counts of the reference sources (BASELINE.md). The fact input
# race_results_view.csv is the reference's missing blob; the program
# synthesizes it from the quali grid (pipelines/motogp/results.py), so
# its volume follows QUALI.
BASELINE_ROWS = {
    "circuits": 68,
    "bikes": 304,
    "teams": 970,
    "riders": 2704,
    "riders_info": 368,
    "riders_finishing_positions": 394,
    "constructors_wc": 284,
    "quali": 7112,
    "races": 313,
}

CLASSES = ("MotoGP", "Moto2", "Moto3")
COUNTRIES = (
    "Italy", "Spain", "France", "Germany", "Japan", "Australia", "Qatar",
    "Netherlands", "Argentina", "Portugal", "Austria", "Malaysia",
    "Thailand", "Indonesia", "India", "Finland", "Czechia", "Britain",
)
FIRST_YEAR = 2005
SYLLABLES = (
    "ba", "be", "bi", "ca", "co", "da", "de", "do", "fa", "fi", "ga", "go",
    "la", "le", "li", "lo", "ma", "me", "mi", "mo", "na", "ne", "no", "pa",
    "pe", "ra", "re", "ri", "ro", "sa", "se", "si", "ta", "te", "to", "va",
    "ve", "vi", "za", "zo", "ker", "lan", "mar", "nor", "tan", "ver",
)
ACCENTS = {"a": "á", "e": "é", "i": "í", "o": "ó", "u": "ü", "n": "ñ"}


def _word(rng: random.Random, lo: int = 2, hi: int = 4) -> str:
    return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(lo, hi)))


def _unique_names(rng: random.Random, n: int, make) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        name = make()
        key = str(name).lower()
        if key not in seen:
            seen.add(key)
            out.append(name)
    return out


def _typo(rng: random.Random, s: str) -> str:
    """One substituted letter, away from the first four characters so
    the Jaro-Winkler prefix bonus still applies."""
    pos = [i for i, ch in enumerate(s) if ch.isalpha() and i >= 4]
    i = rng.choice(pos)
    repl = rng.choice([c for c in "aeioulnrst" if c != s[i].lower()])
    return s[:i] + repl + s[i + 1:]


def _share(rng: random.Random, items: list[str], frac: float) -> list[str]:
    return rng.sample(items, round(frac * len(items)))


def _accent(rng: random.Random, s: str) -> str:
    pos = [i for i, ch in enumerate(s) if ch in ACCENTS]
    if not pos:
        return s
    i = rng.choice(pos)
    return s[:i] + ACCENTS[s[i]] + s[i + 1:]


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _write_parquet(path: str, cols: dict, row_group_size: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path, compression="snappy",
                   row_group_size=row_group_size)


def _write_json(path: str, objs: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(objs, f, ensure_ascii=False, indent=1)


def gen_motogp(seed: int, out_dir: str, scale: float) -> dict:
    """The 10 readable MotoGP sources at ``inputs.PATHS`` under
    ``out_dir``, ``scale`` times the BASELINE.md row counts.

    Planted name variants: circuit names in the circuit file carry
    case changes and accents; race-calendar names carry case changes,
    padding and typos; quali-grid names carry typos; constructor
    classes carry ``™`` or its mojibake; rider names change case
    between files. A share of calendar races is held at circuits that
    are missing from the circuit file, so a correct matcher leaves
    nothing to link them to.

    Returns the link truth: for every circuit-name spelling that a
    fuzzy match links (calendar and quali names), the canonical
    circuit it denotes, or None for the missing circuits; the
    circuit-file spelling of each canonical circuit; and the number of
    input rows."""
    from lsdm_motogp_data_integration_spark.pipelines.motogp.inputs import (
        PATHS,
    )

    rng = random.Random(seed)
    n = {k: max(1, round(v * scale)) for k, v in BASELINE_ROWS.items()}

    def path(name: str) -> str:
        return os.path.join(out_dir, PATHS[name])

    # circuits: canonical name -> file spelling (case + accent variants)
    n_missing = max(1, n["circuits"] // 12)
    canon = _unique_names(
        rng,
        n["circuits"] + n_missing,
        lambda: f"{_word(rng).capitalize()} {_word(rng, 3, 4).capitalize()}",
    )
    known, missing = canon[: n["circuits"]], canon[n["circuits"]:]
    file_name = {}
    circuit_rows = []
    for name in known:
        s = name
        if rng.random() < 0.3:
            s = _accent(rng, s.lower())
        if rng.random() < 0.3:
            s = s.upper()
        file_name[name] = s
        circuit_rows.append([
            f"  {s} " if rng.random() < 0.2 else s,
            f"{rng.uniform(-40, 60):.5f}",
            f"{rng.uniform(-120, 150):.5f}",
            f" {rng.choice(COUNTRIES)} ",
            f"{_word(rng).capitalize()} {_word(rng).capitalize()}",
            rng.randint(3000, 6000),
            f"{rng.randint(10, 20)} m",
            rng.randint(4, 12),
            rng.randint(3, 10),
            rng.randint(500, 1200),
            rng.randint(1950, 2015),
            rng.randint(2000, 2023),
        ])
    _write_csv(
        path("circuits"),
        ["Name", "Lat", "Long", "Country", "Pole Position",
         "Length in meters", "Width in meters", "Right Corners",
         "Left Corners", "Longest Straight", "Constructed", "Modified"],
        circuit_rows,
    )

    # race calendar + weather: one race per distinct date (the program
    # joins the two files on the date alone)
    races_per_year = 18
    n_years = max(1, round(n["races"] / races_per_year))
    # each scraped source misspells the same circuits every season; a
    # fixed share of them keeps the matching work equal across seeds
    typo = {name: _typo(rng, name) for name in _share(rng, canon, 0.3)}
    links: dict[str, str | None] = {}
    race_objs, weather_objs = [], []
    calendar: list[tuple[int, str]] = []
    for y in range(n_years):
        year = FIRST_YEAR + y
        picks = rng.sample(known, races_per_year - 1) + [rng.choice(missing)]
        rng.shuffle(picks)
        for r, name in enumerate(picks):
            date = dt.date(year, 3, 1) + dt.timedelta(days=10 * r)
            spelled = typo.get(name, name)
            if rng.random() < 0.2:
                spelled = spelled.upper()
            if rng.random() < 0.2:
                spelled = f" {spelled}  "
            key = spelled.strip().lower()
            # two spellings can collapse to one lowered key only when
            # they denote the same circuit (typos never touch case)
            links.setdefault(key, name if name in file_name else None)
            if name in file_name:
                calendar.append((year, name))
            race_objs.append({
                "Anno": str(year),
                "Data": date.isoformat(),
                "Circuito": spelled,
                "Nome_Ufficiale": f"Gran Premio {name}",
                "Percorso": f"{rng.randint(3000, 6000)} m",
                "Notturna": "Sì" if rng.random() < 0.1 else "No",
                "Latitudine": f"{rng.uniform(-40, 60):.4f}",
                "Longitudine": f"{rng.uniform(-120, 150):.4f}",
            })
            weather_objs.append({
                "Circuito": f"{_word(rng).capitalize()}",
                "Data": date.isoformat(),
                "Temp_Max": round(rng.uniform(15, 38), 1),
                "Temp_Min": round(rng.uniform(2, 20), 1),
                "Precipitazione": round(max(0.0, rng.gauss(0.5, 2)), 1),
                "Condizione_Meteo": rng.choice(
                    ["Sereno", "Nuvoloso", "Pioggia", "Variabile"]
                ),
            })
    _write_json(path("races_json"), race_objs)
    _write_json(path("weather_json"), weather_objs)

    # people and organisations
    first_names = [_word(rng, 2, 3).capitalize() for _ in range(400)]
    full = _unique_names(
        rng,
        n["riders"],
        lambda: (rng.choice(first_names), _word(rng, 2, 4).capitalize()),
    )
    rider_rows = [
        [i + 1, f, l, rng.choice(COUNTRIES), f"{rng.randint(1, 99)}.0"]
        for i, (f, l) in enumerate(full)
    ]
    _write_csv(
        path("riders"),
        ["id", "first_name", "last_name", "country", "number"],
        rider_rows,
    )
    stars = rng.sample(full, max(n["riders_info"], n["riders_finishing_positions"]))
    _write_csv(
        path("riders_info"),
        ["Riders All Time in All Classes", "Victories", "2nd places",
         "3rd places", "Pole positions from '74 to 2022",
         "Race fastest lap to 2022", "World Championships"],
        [
            [f"{l.upper()} {f}", rng.randint(0, 90), rng.randint(0, 60),
             rng.randint(0, 50), rng.randint(0, 60), rng.randint(0, 60),
             rng.randint(0, 9)]
            for f, l in stars[: n["riders_info"]]
        ],
    )
    _write_csv(
        path("riders_finishing_positions"),
        ["Rider", "Victories", "NumberofSecond", "NumberofThird",
         "Numberof4th", "Numberof5th", "Numberof6th", "Country"],
        [
            [f"{f} {l}" if rng.random() < 0.5 else f"{f} {l}".upper(),
             rng.randint(0, 90), rng.randint(0, 60), rng.randint(0, 50),
             rng.randint(0, 40), rng.randint(0, 40), rng.randint(0, 40),
             rng.choice(COUNTRIES)]
            for f, l in stars[: n["riders_finishing_positions"]]
        ],
    )
    team_names = _unique_names(
        rng, n["teams"], lambda: f"{_word(rng).capitalize()} Racing"
    )
    _write_csv(
        path("teams"), ["id", "name", "country"],
        [[i + 1, t, rng.choice(COUNTRIES)] for i, t in enumerate(team_names)],
    )
    bike_names = _unique_names(rng, n["bikes"], lambda: _word(rng).capitalize())
    _write_csv(
        path("bikes"), ["id", "name", "country"],
        [[i + 1, b, rng.choice(COUNTRIES)] for i, b in enumerate(bike_names)],
    )

    # constructors' championship: (season, class) keys with ™ variants
    wc_rows = []
    for i in range(n["constructors_wc"]):
        year = FIRST_YEAR + i % n_years
        cls = CLASSES[(i // n_years) % len(CLASSES)]
        mark = rng.choice(["™", "â„¢", ""])
        wc_rows.append([year, _word(rng).capitalize(), f"{cls}{mark}"])
    _write_csv(
        path("constructors_wc"), ["Season", "Constructor", "Class"], wc_rows
    )

    # quali grid: every calendar race at a known circuit, every class;
    # the grid's official name is a (possibly misspelled) variant of
    # the circuit's canonical name
    per_grid = max(2, round(n["quali"] / (len(calendar) * len(CLASSES))))
    grid_typo = {name: _typo(rng, name) for name in _share(rng, known, 0.3)}
    quali_rows = []
    for year, name in calendar:
        official = grid_typo.get(name, name)
        links.setdefault(official.strip().lower(), name)
        for cls in CLASSES:
            for pos, (f, l) in enumerate(rng.sample(full, per_grid), start=1):
                rider = f"{f} {l}"
                if rng.random() < 0.1:
                    rider = rider.upper()
                quali_rows.append([year, name, official, cls, rider, pos])
    _write_csv(
        path("quali"),
        ["Year", "Circuit", "OfficialName", "Class", "RiderName", "Position"],
        quali_rows,
    )
    return {
        "links": links,
        "circuit_spelling": {
            name: s.strip().lower() for name, s in file_name.items()
        },
        "input_rows": len(circuit_rows) + len(race_objs)
        + len(weather_objs) + len(rider_rows) + n["riders_info"]
        + n["riders_finishing_positions"] + len(team_names)
        + len(bike_names) + len(wc_rows) + len(quali_rows),
    }


# ---------------------------------------------------------------------------
# Clustered embeddings with a query set
# ---------------------------------------------------------------------------


def gen_vectors(
    seed: int,
    out_dir: str,
    n_corpus: int,
    n_queries: int,
    batch: int,
    dim: int = 64,
    n_clusters: int = 256,
) -> dict:
    """``corpus.parquet`` (vec_id, embedding float[]) drawn around
    ``n_clusters`` random unit centres (many small clusters, so the
    index cells and the search work come out about equal across
    seeds), and ``queries.parquet``
    (query_id, query_vec, batch): each query is a jittered copy of a
    corpus vector. Returns the batch count; the check computes the
    exact neighbours itself."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    member = rng.integers(0, n_clusters, n_corpus)
    noise = rng.normal(size=(n_corpus, dim)) / np.sqrt(dim)
    corpus = (centres[member] + 0.5 * noise).astype(np.float32)
    src = rng.choice(n_corpus, n_queries, replace=False)
    jitter = rng.normal(size=(n_queries, dim)) / np.sqrt(dim)
    queries = (corpus[src] + 0.05 * jitter).astype(np.float32)
    vec_type = pa.list_(pa.float32())
    _write_parquet(os.path.join(out_dir, "corpus.parquet"), {
        "vec_id": np.arange(n_corpus, dtype=np.int64),
        "embedding": pa.array(list(corpus), vec_type),
    })
    qid = np.arange(n_queries, dtype=np.int64) + n_corpus
    _write_parquet(os.path.join(out_dir, "queries.parquet"), {
        "query_id": qid,
        "query_vec": pa.array(list(queries), vec_type),
        "batch": (np.arange(n_queries) // batch).astype(np.int64),
    }, row_group_size=batch)  # one row group per batch: a batch's scan reads only it
    return {"n_batches": -(-n_queries // batch)}


# ---------------------------------------------------------------------------
# TPC-H-style star schema (the tables the star_sql queries read)
# ---------------------------------------------------------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "error")
DAY_US = 86_400_000_000


def _days_us(days: np.ndarray, start: str) -> pa.Array:
    base = int(np.datetime64(start, "us").astype(np.int64))
    return pa.array(base + days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def gen_star(
    seed: int,
    out_dir: str,
    n_customers: int,
    n_orders: int,
    n_suppliers: int,
    lines_per_order: int,
    n_events: int,
    n_users: int,
) -> dict:
    """``customer``, ``supplier``, ``orders``, ``lineitem`` and
    ``events`` parquet files under ``out_dir``, with the column names
    and types of the TPC-H-style test tables. Each customer's order
    dates are distinct, so the as-of join (q36) has no ties. Returns
    each table's row count."""
    rng = np.random.default_rng(seed)
    cust = np.arange(n_customers, dtype=np.int64)
    _write_parquet(os.path.join(out_dir, "customer.parquet"), {
        "c_custkey": cust,
        "c_name": [f"Customer#{k:09d}" for k in cust],
        "c_nationkey": rng.integers(0, 25, n_customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_customers), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_customers)],
    })
    supp = np.arange(n_suppliers, dtype=np.int64)
    _write_parquet(os.path.join(out_dir, "supplier.parquet"), {
        "s_suppkey": supp,
        "s_name": [f"Supplier#{k:09d}" for k in supp],
        "s_nationkey": rng.integers(0, 25, n_suppliers).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_suppliers), 2),
    })
    # orders over 1992-01-01 + [0, 2556) days, distinct per customer
    o_cust = rng.integers(0, n_customers, n_orders).astype(np.int64)
    o_day = rng.integers(0, 2556, n_orders)
    seen: set[tuple[int, int]] = set()
    for i in range(n_orders):
        while (o_cust[i], o_day[i]) in seen:
            o_day[i] = (o_day[i] + 1) % 2556
        seen.add((o_cust[i], o_day[i]))
    _write_parquet(os.path.join(out_dir, "orders.parquet"), {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": o_cust,
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _days_us(o_day, "1992-01-01"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    n_lines = n_orders * lines_per_order
    _write_parquet(os.path.join(out_dir, "lineitem.parquet"), {
        "l_orderkey": rng.integers(0, n_orders, n_lines).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_suppliers, n_lines).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_lines)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_lines)],
        "l_shipdate": _days_us(rng.integers(0, 3650, n_lines), "1992-01-02"),
    })
    ts = np.sort(rng.integers(0, 90 * DAY_US, n_events))
    base = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    _write_parquet(os.path.join(out_dir, "events.parquet"), {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(base + ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 4, n_events)],
        "value": np.round(rng.exponential(10.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return {
        "customer": n_customers, "supplier": n_suppliers, "orders": n_orders,
        "lineitem": n_lines, "events": n_events,
    }


# ---------------------------------------------------------------------------
# Document corpus with planted duplicates and a contaminating holdout
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "and", "of", "to", "is", "that", "with", "a", "in", "it")


def gen_corpus(
    seed: int,
    out_dir: str,
    n_docs: int,
    n_sources: int,
    n_exact: int,
    n_near: int,
    n_contaminated: int,
) -> dict:
    """``documents.parquet`` (doc_id, text, source) and
    ``holdout.parquet`` (doc_id, text): English-like documents of
    80-140 words that pass the curation screens.

    Planted: ``n_exact`` clusters of one document and 1-2 byte-identical
    copies; ``n_near`` clusters of one document and 1-2 copies with one
    word replaced (5-word-shingle Jaccard about 0.9, above the 0.8
    near-duplicate threshold); ``n_contaminated`` further documents
    each share a 12-word passage with one holdout document. Ids are
    shuffled, so a cluster's smallest id (the survivor) is anywhere in
    it. Returns the clusters (lists of ids), the contaminated ids and
    the document count."""
    rng = random.Random(seed)
    vocab = _unique_names(rng, 3000, lambda: _word(rng, 2, 3))

    def text(n_words: int) -> list[str]:
        return [
            rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(n_words)
        ]

    n_base = n_docs - 2 * (n_exact + n_near)  # copies and fillers make up the rest
    base = [text(rng.randint(80, 140)) for _ in range(n_base)]
    order = list(range(n_base))
    rng.shuffle(order)
    exact_src = order[:n_exact]
    near_src = order[n_exact:n_exact + n_near]
    contaminated_src = order[n_exact + n_near:n_exact + n_near + n_contaminated]

    docs = [list(w) for w in base]  # index = provisional id
    clusters = []
    for kind, srcs in (("exact", exact_src), ("near", near_src)):
        for s in srcs:
            members = [s]
            for _ in range(rng.randint(1, 2)):
                copy = list(base[s])
                if kind == "near":
                    i, word = len(copy) // 2, copy[len(copy) // 2]
                    while copy[i] == word:
                        copy[i] = rng.choice(vocab)
                docs.append(copy)
                members.append(len(docs) - 1)
            clusters.append((kind, members))
    while len(docs) < n_docs:  # filler singletons
        docs.append(text(rng.randint(80, 140)))

    holdout = []
    for s in contaminated_src:
        words = base[s]
        i = rng.randint(0, len(words) - 12)
        holdout.append(text(40) + words[i:i + 12] + text(40))
    for _ in range(n_contaminated // 2):  # holdout documents with no overlap
        holdout.append(text(90))

    ids = list(range(len(docs)))
    rng.shuffle(ids)  # provisional index -> doc_id
    _write_parquet(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": np.array(ids, dtype=np.int64),
        "text": [" ".join(w) for w in docs],
        "source": [f"src{rng.randrange(n_sources)}" for _ in docs],
    })
    _write_parquet(os.path.join(out_dir, "holdout.parquet"), {
        "doc_id": np.arange(len(holdout), dtype=np.int64) + 10 * len(docs),
        "text": [" ".join(w) for w in holdout],
    })
    return {
        "clusters": [(kind, sorted(ids[m] for m in members)) for kind, members in clusters],
        "contaminated": sorted(ids[s] for s in contaminated_src),
        "n_docs": len(docs),
    }
