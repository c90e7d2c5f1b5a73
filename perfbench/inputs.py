"""Seeded inputs of the writing workloads, with their expected counts.

``etl_csvs(out_dir, seed, n_obs)`` writes the reference-shaped raw CSVs
``run_etl1`` reads (institutions, users with SCD2 affiliation and
subscription changes, ``n_obs`` observation rows with planted violations of
every quarantine rule and rows whose author matches no user).
``doc_batches(seed, epochs, size)`` makes the document batches offered to
``streaming.dedup_ingest_sink``, with planted exact and near duplicates.

Both return what the pipeline must produce, by construction, so the
benchmark can check its outputs without running a second engine.
"""

from __future__ import annotations

import csv
import os

import numpy as np

from tables import VOCAB

#: observation quarantine message -> (column, a value breaking only that rule)
OBS_VIOLATIONS = {
    "Missing authors.": ("authors", "NA"),
    "Missing pollinator species.": ("pollinator_species", "NA"),
    "Missing plant species.": ("plant_species", "NA"),
    "Invalid interactions value.": ("interactions", "three"),
    "Invalid day of month.": ("date", "32"),
    "Invalid month.": ("month", "13"),
    "Invalid year.": ("year", "1700"),
    "Invalid latitude.": ("latitude", "95.000"),
    "Invalid longitude.": ("longitude", "200.000"),
    "Invalid pollination quality.": ("pollination", "5"),
    "Invalid pollen flag.": ("pollen", "X"),
    "Invalid nectar flag.": ("nectar", "Q"),
}
#: users quarantine message -> (column, bad value); a user with one such row
#: loses every row (the reference deletes the whole username)
USER_VIOLATIONS = {
    "Missing required field: email.": ("email", ""),
    "Unparseable date: affiliation_start.": ("affiliation_start", "not-a-date"),
}

OBS_HEADER = [
    "authors", "title", "journal", "pub_year", "pub_vol", "doi",
    "methodology", "pollinator_survey", "plant_survey",
    "nbn_pollinator_code", "col_pollinator_code", "pollinator_species",
    "caste", "nbn_plant_code", "col_plant_code", "plant_species",
    "interactions", "date", "month", "year", "grid_letter", "grid_code",
    "latitude", "longitude", "habitat", "pollination", "pollen", "nectar",
    "record", "articleurl",
]
USERS_HEADER = [
    "full_name", "username", "email", "institution", "affiliation_start",
    "city", "county", "subscription_type", "subscription_start", "join_date",
]
COUNTIES = ["Oxfordshire", "Essex", "Kent", "Devon", "Norfolk"]
SUBSCRIPTIONS = ["Free", "Pro", "HiveMind", "FieldScout", "BeeWatch+"]
POLLINATORS = [
    "apis mellifera", "bombus terrestris", "bombus lapidarius",
    "andrena flavipes", "andrena haemorrhoa", "eristalis tenax",
    "melanostoma mellinum", "osmia bicornis", "episyrphus balteatus",
]
PLANTS = [
    "prunella vulgaris", "trifolium repens", "taraxacum officinale",
    "calluna vulgaris", "rubus fruticosus", "heracleum sphondylium",
]
CASTES = ["worker", "queen", "male", "NA"]
HABITATS = ["urban", "suburban", "grassland", "woodland", "NA"]


def _last_name(i: int) -> str:
    # equal-length names, so no last name is a substring of another
    return "Zq" + chr(97 + i // 26 % 26) + chr(97 + i % 26) + "ler"


def _date(rng: np.random.RandomState, lo_year: int, hi_year: int) -> str:
    return f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 13):02d}-{rng.randint(1, 29):02d}"


def _write(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="", encoding="ISO-8859-1") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def etl_csvs(out_dir: str, seed: int, n_obs: int) -> dict:
    """Write ``institutions.csv``, ``users.csv`` and ``observations.csv``;
    return the expected silver/quarantine counts."""
    rng = np.random.RandomState(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_inst = 10
    inst = [(f"Institute {i} of Pollination", f"City{i}", COUNTIES[i % len(COUNTIES)])
            for i in range(n_inst)]
    _write(os.path.join(out_dir, "institutions.csv"), ["institution", "city", "county"],
           [list(r) for r in inst] + [["", "Nowhere", "NA"]])

    n_users = max(8, n_obs // 40)
    bad_users = set(rng.choice(n_users, max(2, n_users // 10), replace=False).tolist())
    user_rows, user_quarantine = [], {m: 0 for m in USER_VIOLATIONS}
    for u in range(n_users):
        name, k = _last_name(u), rng.randint(n_inst)
        start = _date(rng, 2005, 2012)
        row = [f"A. B. {name}", f"user{u:04d}", f"user{u:04d}@bees.org", inst[k][0],
               start, inst[k][1], inst[k][2], SUBSCRIPTIONS[rng.randint(5)], start, start]
        rows = [row]
        if rng.rand() < 0.5:  # institution change: a second SCD2 affiliation
            k2 = (k + 1 + rng.randint(n_inst - 1)) % n_inst
            rows.append(row[:3] + [inst[k2][0], _date(rng, 2013, 2016), inst[k2][1],
                                   inst[k2][2]] + row[7:])
        if rng.rand() < 0.5:  # subscription change on the latest affiliation
            rows.append(rows[-1][:7] + [SUBSCRIPTIONS[rng.randint(5)],
                                        _date(rng, 2017, 2020), start])
        if u in bad_users:
            msg = list(USER_VIOLATIONS)[u % len(USER_VIOLATIONS)]
            col, bad = USER_VIOLATIONS[msg]
            broken = list(rows[-1])
            broken[USERS_HEADER.index(col)] = bad
            rows.append(broken)
            user_quarantine[msg] += 1
        user_rows.extend(rows)
    _write(os.path.join(out_dir, "users.csv"), USERS_HEADER, user_rows)
    good_users = [u for u in range(n_users) if u not in bad_users]

    per_rule = max(1, n_obs // 200)
    n_unknown = max(1, n_obs // 100)
    plan = ([None] * (n_obs - per_rule * len(OBS_VIOLATIONS) - n_unknown)
            + ["unknown"] * n_unknown
            + [m for m in OBS_VIOLATIONS for _ in range(per_rule)])
    rng.shuffle(plan)
    obs_rows = []
    for kind in plan:
        authors = ", ".join(
            f"{_last_name(u)} A." for u in rng.choice(good_users, rng.randint(1, 3),
                                                       replace=False)
        )
        row = {
            "authors": "Unknownperson Z." if kind == "unknown" else authors,
            "pollinator_species": POLLINATORS[rng.randint(len(POLLINATORS))],
            "plant_species": PLANTS[rng.randint(len(PLANTS))],
            "caste": CASTES[rng.randint(len(CASTES))],
            "interactions": str(rng.randint(1, 21)),
            "date": str(rng.randint(1, 29)),
            "month": str(rng.randint(1, 13)) if rng.rand() < 0.9 else "NA",
            "year": str(rng.randint(2010, 2023)),
            "latitude": f"{50 + rng.randint(0, 40) * 0.15:.3f}",
            "longitude": f"{-4 + rng.randint(0, 30) * 0.15:.3f}",
            "habitat": HABITATS[rng.randint(len(HABITATS))],
            "pollination": str(rng.randint(1, 5)) if rng.rand() < 0.9 else "NA",
            "pollen": "YN"[rng.randint(2)],
            "nectar": "YN"[rng.randint(2)],
            "nbn_pollinator_code": f"nhmsys{rng.randint(10**9):010d}",
            "nbn_plant_code": "NA",
        }
        if kind in OBS_VIOLATIONS:
            col, bad = OBS_VIOLATIONS[kind]
            row[col] = bad
        obs_rows.append([row.get(c, c[:2]) for c in OBS_HEADER])
    _write(os.path.join(out_dir, "observations.csv"), OBS_HEADER, obs_rows)

    n_valid = n_obs - per_rule * len(OBS_VIOLATIONS)
    return {
        "csv_rows": {"institutions": n_inst + 1, "users": len(user_rows),
                     "observations": n_obs},
        "silver_rows": {"institutions": n_inst, "users": len(good_users),
                        "observations": n_valid - n_unknown},
        "quarantine_rows": {"invalid_institutions": 1,
                            "invalid_users": sum(user_quarantine.values()),
                            "invalid_observations": per_rule * len(OBS_VIOLATIONS)},
        "quarantine_rules": {**{m: per_rule for m in OBS_VIOLATIONS},
                             **user_quarantine,
                             "Missing institution name.": 1},
        "unknown_author_drops": n_unknown,
        # every valid observation has a date and a location, so the
        # activity fact's observation_count sums to the silver rows
        "fact_observations": n_valid - n_unknown,
    }


def _salad(rng: np.random.RandomState) -> str:
    return " ".join(VOCAB[k] for k in rng.randint(0, len(VOCAB), rng.randint(10, 100)))


def doc_batches(seed: int, epochs: int, size: int) -> tuple[list[list[tuple]], dict]:
    """``epochs`` batches of ``size`` ``(doc_id, text)`` rows. 5% of each
    batch are exact copies and 5% near duplicates (`` dup`` appended) of
    documents offered earlier, in this batch or a previous one; the rest
    are fresh. Returns the batches and the expected sink outcome."""
    rng = np.random.RandomState(seed)
    batches, fresh, dup_ids = [], [], []
    next_id = 0
    for _ in range(epochs):
        rows: list[tuple] = []
        for _ in range(size):
            r = rng.rand()
            if fresh and r < 0.10:
                src = fresh[rng.randint(len(fresh))]
                rows.append((next_id, src if r < 0.05 else src + " dup"))
                dup_ids.append(next_id)
            else:
                text = _salad(rng)
                rows.append((next_id, text))
                fresh.append(text)
            next_id += 1
        batches.append(rows)
    return batches, {"offered": next_id, "kept": len(fresh), "dup_ids": dup_ids}
