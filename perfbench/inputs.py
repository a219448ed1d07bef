"""Seeded benchmark inputs.

Every input here is a pure function of the workload seed, so the same seed
gives byte-identical inputs. The package under test only ever sees what
these functions produce:

- :func:`parcel_source` — an offline ``SourceDefinition`` whose payload is a
  pure function of (seed, round, entry id). Seed and round travel in
  ``base_url``, so scrape functions shipped to Python workers carry no
  global state. :func:`changed_entries` tells the caller exactly which
  entities change in a refresh round.
- :func:`make_documents` — a corpus shaped like the catalog's ``documents``
  table (30-word vocabulary, 10-100 words per doc, 20 sources, ~41% 'en'),
  re-keyed from the seed, with each language's function words mixed in and
  planted exact duplicates placed where the corpus-prep DAG's dedup stage
  must catch them.
"""

from __future__ import annotations

import hashlib
import os
import random

from ctcityscraper_spark.sources.contracts import SourceDefinition

# --------------------------------------------------------------------- utils


def _h(*parts) -> int:
    """Stable 64-bit hash of the parts (no PYTHONHASHSEED dependence)."""
    d = hashlib.blake2b("\x1f".join(map(str, parts)).encode(), digest_size=8)
    return int.from_bytes(d.digest(), "big")


# ------------------------------------------------------ offline parcel source

_URL_PREFIX = "perfbench://parcels"
_STREETS = ["Elm", "Oak", "Main", "Pine", "Maple", "Cedar", "Church", "Mill"]
_OWNERS = ["SMITH", "JONES", "NGUYEN", "GARCIA", "MILLER", "DAVIS", "CHEN"]
_USES = ["RES", "COM", "IND", "MIX", "VAC"]
_STYLES = ["Colonial", "Ranch", "Cape", "Modern", "Victorian"]
# 1 in CHANGE_MOD entities changes per refresh round (~10%)
CHANGE_MOD = 10

PARCEL_SCHEMAS = {
    "parcels": (
        "entry_id long, uuid string, address string, owner string, "
        "land_use string, assessed_value double"
    ),
    "buildings": (
        "entry_id long, uuid string, building_key string, bid int, "
        "sqft int, year_built int, style string"
    ),
}
# latest-state snapshot keys, one per table (engine materialize_current)
PARCEL_KEYS = {"parcels": "uuid", "buildings": "building_key"}


def source_url(seed: int, rnd: int) -> str:
    return f"{_URL_PREFIX}/seed/{seed}/round/{rnd}"


def _parse_url(base_url: str) -> tuple[int, int]:
    parts = base_url[len(_URL_PREFIX) :].strip("/").split("/")
    if not base_url.startswith(_URL_PREFIX) or parts[0::2] != ["seed", "round"]:
        raise ValueError(f"not a parcel-source url: {base_url!r}")
    return int(parts[1]), int(parts[3])


def is_changed(seed: int, rnd: int, entry_id: int) -> bool:
    """Does this entity's content change in refresh round ``rnd`` (>= 1)?"""
    return rnd >= 1 and _h(seed, "chg", rnd, entry_id) % CHANGE_MOD == 0


def changed_entries(seed: int, rnd: int, entry_ids) -> list[int]:
    return [e for e in entry_ids if is_changed(seed, rnd, e)]


def entity_version(seed: int, rnd: int, entry_id: int) -> int:
    return sum(is_changed(seed, r, entry_id) for r in range(1, rnd + 1))


def n_buildings(seed: int, entry_id: int) -> int:
    return 1 + _h(seed, "nb", entry_id) % 3


def parcel_uuid(seed: int, entry_id: int) -> str:
    h = hashlib.md5(f"{seed}:{entry_id}".encode()).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def assessed_value(seed: int, entry_id: int, version: int) -> float:
    return float(50_000 + _h(seed, "val", entry_id) % 900_000 + 1_000 * version)


def scrape_parcel(base_url: str, entry_id) -> dict:
    """Payload for one entry: a pure function of (seed, round, entry id).

    A change bumps the parcel's assessed value and building 0's area, so a
    changed entity writes exactly one new row per table on refresh."""
    seed, rnd = _parse_url(base_url)
    eid = int(entry_id)
    v = entity_version(seed, rnd, eid)
    h = _h(seed, "attr", eid)
    return {
        "entry_id": eid,
        "uuid": parcel_uuid(seed, eid),
        "address": f"{1 + h % 999} {_STREETS[h % len(_STREETS)]} St",
        "owner": _OWNERS[(h >> 8) % len(_OWNERS)],
        "land_use": _USES[(h >> 16) % len(_USES)],
        "assessed_value": assessed_value(seed, eid, v),
        "buildings": [
            {
                "bid": b,
                "sqft": 800 + (h >> (20 + b)) % 3000 + (10 * v if b == 0 else 0),
                "year_built": 1850 + (h >> (24 + b)) % 170,
                "style": _STYLES[(h >> (28 + b)) % len(_STYLES)],
            }
            for b in range(n_buildings(seed, eid))
        ],
    }


def flatten_parcels(payloads: list[dict]) -> dict[str, list[dict]]:
    parcels, buildings = [], []
    for p in payloads:
        parcels.append({k: v for k, v in p.items() if k != "buildings"})
        for b in p["buildings"]:
            buildings.append(
                {
                    "entry_id": p["entry_id"],
                    "uuid": p["uuid"],
                    "building_key": f"{p['uuid']}:{b['bid']}",
                    **b,
                }
            )
    return {"parcels": parcels, "buildings": buildings}


def parcel_source() -> SourceDefinition:
    """Offline source on the engine's distributed fetch+flatten path."""
    return SourceDefinition(
        name="perfbench_parcels",
        scrape_fn=scrape_parcel,
        flatten_fn=flatten_parcels,
        entry_id_source="parcels/entry_id",
        table_schemas=PARCEL_SCHEMAS,
    )


def expected_refresh_rows(seed: int, rnd: int, entry_ids) -> tuple[int, int]:
    """(rows_written, rows_skipped) the engine must report for a refresh
    round over ``entry_ids``: one new row per table per changed entity."""
    ids = list(entry_ids)
    rows_in = len(ids) + sum(n_buildings(seed, e) for e in ids)
    written = 2 * len(changed_entries(seed, rnd, ids))
    return written, rows_in - written


def expected_current_values(seed: int, rnd: int, entry_ids) -> dict[str, float]:
    """uuid -> assessed_value of the latest parcel state after round ``rnd``."""
    return {
        parcel_uuid(seed, e): assessed_value(seed, e, entity_version(seed, rnd, e))
        for e in entry_ids
    }


# ------------------------------------------------------------ corpus inputs

# the catalog documents table's vocabulary and shape: uniform words from a
# 30-word vocabulary, 10-100 words per document, 20 sources
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = [("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14)]
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _e2e_is_new(doc_id: int) -> bool:
    """corpus_e2e_prep's batch split: hash64(doc_id, 'e2esplit') % 5 == 0."""
    from ctcityscraper_spark.functions.hashing import hash64_py

    return hash64_py(str(doc_id), "e2esplit") % 5 == 0


def make_documents(seed: int, n_docs: int, dup_share: float = 0.05):
    """Seeded corpus: rows (doc_id, text, lang, source, n_chars) plus the
    doc ids of planted exact duplicates.

    Doc ids are a seeded sparse re-keying. Each planted duplicate is a doc
    in the DAG's 20% incoming batch whose text copies a doc of the 80%
    resident corpus, so the DAG's exact-dedup stage must drop it."""
    from ctcityscraper_spark.operators.text import LANG_MARKERS

    rng = random.Random(_h(seed, "docs"))
    ids = sorted(rng.sample(range(1, n_docs * 50), n_docs))
    langs = [l for l, w in _LANGS for _ in range(w)]
    rows = []
    for i, doc_id in enumerate(ids):
        lang = rng.choice(langs)
        # a fifth of the words are the language's function words, so the
        # quality teacher and the DSIR domain gate have a signal to learn
        words = [
            rng.choice(LANG_MARKERS[lang]) if rng.random() < 0.2 else rng.choice(_VOCAB)
            for _ in range(rng.randint(10, 100))
        ]
        text = " ".join(words)
        rows.append([doc_id, text, lang, f"src{i % 20}", len(text)])
    resident = [r for r in rows if not _e2e_is_new(r[0])]
    incoming = [r for r in rows if _e2e_is_new(r[0])]
    planted = rng.sample(incoming, min(len(incoming), round(dup_share * n_docs)))
    for r in planted:
        src = rng.choice(resident)
        r[1], r[4] = src[1], src[4]
    return [tuple(r) for r in rows], sorted(r[0] for r in planted)


def write_documents(path: str, rows) -> None:
    """One parquet file, the catalog's ``<sf_dir>/documents.parquet`` shape."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_stream_batches(src_dir: str, rows, n_batches: int) -> list[int]:
    """Split ``rows`` by row number into ``n_batches`` parquet files, one
    directory each, with distinct mtimes (the file source orders by mtime).
    Returns the batch sizes; every batch is non-empty."""
    if len(rows) < n_batches:
        raise ValueError(f"{len(rows)} rows cannot fill {n_batches} batches")
    bounds = [round(i * len(rows) / n_batches) for i in range(n_batches + 1)]
    sizes = []
    for i in range(n_batches):
        part = rows[bounds[i] : bounds[i + 1]]
        if not part:
            raise ValueError(f"stream batch {i} is empty")
        f = os.path.join(src_dir, f"b{i}", "part-0.parquet")
        write_documents(f, part)
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
        sizes.append(len(part))
    return sizes
