"""Deterministic AB-shaped fixture generator (FIXTURES.md; seed=42).

Generates the domain tables the driver's TPC-ish testdata does not cover:
``lowlevel``, ``lowlevel_json`` (typed nested feature documents),
``model`` / ``highlevel`` / ``highlevel_model``, and datasets — with the edge
cases the reference's behavior depends on (duplicate documents, missing
highlevel rows, hidden models, missing per-model rows, absent features).

Documents carry a canonical-JSON sha256 computed with EXACTLY the reference's
formula ``json.dumps(sort_keys=True, separators=(',', ':'))``
(db/data.py:189-190, 250-251) so dedup parity is testable end-to-end.
"""

from __future__ import annotations

import hashlib
import json
import random
import uuid
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from .. import schemas
from .tables import local_frame

KEYS_CIRCLE = ["C", "G", "D", "A", "E", "B", "F#", "C#", "G#", "D#", "A#", "F"]
TAG_EXTRA_BAD = "my_custom_tag_not_whitelisted"
HIDDEN_MODELS = {"genre_electronic", "timbre"}


def canonical_sha256(doc: dict) -> str:
    """Reference-identical content hash (db/data.py:189-190)."""
    return hashlib.sha256(json.dumps(doc, sort_keys=True, separators=(",", ":")).encode("utf-8")).hexdigest()


def _make_doc(rng: random.Random, gid: str, artist_id: str | None, lossless: bool) -> dict:
    doc = {
        "lowlevel": {
            "average_loudness": rng.random(),
            "dynamic_complexity": rng.random() * 60.0,
            "mfcc": {"mean": [rng.gauss(-700.0, 50.0)] + [rng.gauss(0.0, 100.0) for _ in range(12)]},
            "gfcc": {"mean": [rng.gauss(-700.0, 50.0)] + [rng.gauss(0.0, 100.0) for _ in range(12)]},
            "barkbands": {"mean": [10.0 ** rng.uniform(-9, -3) for _ in range(27)]},
        },
        "rhythm": {
            "bpm": rng.uniform(60.0, 180.0),
            "onset_rate": rng.uniform(0.5, 10.0),
            "danceability": rng.random() * 3.0,
            "beats_count": float(rng.randint(100, 1000)),
            "beats_loudness": {"mean": rng.random()},
        },
        "tonal": {
            "key_key": rng.choice(KEYS_CIRCLE),
            "key_scale": rng.choice(["major", "minor"]),
            "key_strength": rng.uniform(0.3, 1.0),
            "chords_key": rng.choice(KEYS_CIRCLE),
            "chords_scale": rng.choice(["major", "minor"]),
            "tuning_frequency": rng.gauss(440.0, 1.0),
        },
        "metadata": {
            "audio_properties": {
                "length": rng.uniform(60.0, 600.0),
                "bit_rate": rng.choice([128000, 192000, 320000, 1411000]),
                "codec": "flac" if lossless else rng.choice(["mp3", "aac", "vorbis"]),
                "lossless": lossless,
                "sample_rate": rng.choice([44100.0, 48000.0]),
            },
            "tags": {
                "musicbrainz_recordingid": [gid],
                "artist": [f"Artist {artist_id or 'unknown'}"],
                "title": [f"Track {rng.randint(1, 99999)}"],
                **({"musicbrainz_artistid": [artist_id]} if artist_id else {}),
                **({TAG_EXTRA_BAD: ["junk"]} if rng.random() < 0.10 else {}),
            },
            "version": {"essentia": "2.1-beta2", "essentia_git_sha": "abc123", "extractor": "music 1.0"},
        },
    }
    # ~2% of docs miss the mfcc feature entirely -> exercises the
    # ValueError -> zero-vector path (db/similarity.py:368-371)
    if rng.random() < 0.02:
        doc["lowlevel"]["mfcc"] = {"mean": None}
    return doc


def _probs(rng: random.Random, classes: list[str]) -> dict[str, float]:
    raw = [rng.random() for _ in classes]
    s = sum(raw)
    return {c: round(v / s, 6) for c, v in zip(classes, raw)}


def generate_fixture_tables(
    spark: SparkSession,
    n_lowlevel: int = 600,
    n_gids: int = 400,
    n_artists: int = 80,
    seed: int = 42,
) -> dict[str, DataFrame]:
    rng = random.Random(seed)
    base_ts = datetime(2024, 1, 1)

    gids = [str(uuid.UUID(int=rng.getrandbits(128), version=4)).lower() for _ in range(n_gids)]
    artists = [str(uuid.UUID(int=rng.getrandbits(128), version=4)).lower() for _ in range(n_artists)]
    gid_artist = {g: (rng.choice(artists) if rng.random() > 0.03 else None) for g in gids}
    build_shas = [hashlib.sha1(str(i).encode()).hexdigest() for i in range(3)]

    # --- lowlevel + lowlevel_json -----------------------------------------------------
    ll_rows, llj_rows = [], []
    next_id = 0
    docs_pool: list[dict] = []
    for _ in range(n_lowlevel):
        next_id += 1 if rng.random() > 0.02 else 2  # ~2% id gaps
        gid = rng.choice(gids)
        lossless = rng.random() < 0.30
        submitted = base_ts + timedelta(seconds=rng.randint(0, 90 * 86400))
        if docs_pool and rng.random() < 0.01:  # ~1% exact duplicate documents
            doc = docs_pool[rng.randrange(len(docs_pool))]
        else:
            doc = _make_doc(rng, gid, gid_artist[gid], lossless)
            docs_pool.append(doc)
        ll_rows.append(
            {
                "id": next_id,
                "gid": gid,
                "build_sha1": rng.choice(build_shas),
                "lossless": lossless,
                "submitted": submitted,
                "gid_type": "mbid" if rng.random() < 0.95 else "msid",
                "submission_offset": None,  # assigned below, consistent with (submitted, id)
            }
        )
        llj_rows.append({"id": next_id, "data": doc, "data_sha256": canonical_sha256(doc), "version": rng.randint(1, 3)})

    # dense offset rank per gid by (submitted, id) — FIXTURES.md §1
    by_gid: dict[str, list[dict]] = {}
    for r in ll_rows:
        by_gid.setdefault(r["gid"], []).append(r)
    for rows in by_gid.values():
        for i, r in enumerate(sorted(rows, key=lambda r: (r["submitted"], r["id"]))):
            r["submission_offset"] = i

    # --- model ------------------------------------------------------------------------
    model_rows = []
    for i, (name, classes) in enumerate(sorted(schemas.MODEL_CLASSES.items()), start=1):
        model_rows.append(
            {
                "id": i,
                "model": name,
                "model_version": "v2.1_beta1",
                "status": "hidden" if name in HIDDEN_MODELS else "show",
                "class_mapping": {c: c.replace("_", " ").title() for c in classes} if i <= 3 else None,
            }
        )
    model_ids = {r["model"]: r["id"] for r in model_rows}

    # --- highlevel + highlevel_model --------------------------------------------------
    hl_rows, hlm_rows, hlmeta_rows = [], [], []
    llj_by_id = {r["id"]: r for r in llj_rows}
    hlm_id = 0
    for r in ll_rows:
        if rng.random() < 0.85:  # 15% unprocessed -> anti-join work queue
            hl_rows.append(
                {"id": r["id"], "mbid": r["gid"], "build_sha1": r["build_sha1"], "submitted": r["submitted"]}
            )
            if rng.random() > 0.02:  # ~2% failed submissions: hl row without meta
                meta = llj_by_id[r["id"]]["data"]["metadata"]
                hlmeta_rows.append({"id": r["id"], "data": meta, "data_sha256": canonical_sha256(meta)})
            for m in model_rows:
                if m["status"] != "show" or rng.random() < 0.05:  # 5% missing (id, model) pairs
                    continue
                classes = schemas.MODEL_CLASSES[m["model"]]
                probs = _probs(rng, classes)
                value = max(probs, key=lambda c: (probs[c], c))
                hlm_id += 1
                hlm_rows.append(
                    {
                        "id": hlm_id,
                        "highlevel": r["id"],
                        "data": {"all": probs, "value": value, "probability": probs[value]},
                        "model": model_ids[m["model"]],
                        "version": rng.randint(1, 3),
                    }
                )

    # --- datasets ---------------------------------------------------------------------
    ds_rows, cls_rows, mem_rows = [], [], []
    cls_id = 0
    for d in range(6):
        ds_id = str(uuid.UUID(int=rng.getrandbits(128), version=4)).lower()
        ds_rows.append(
            {
                "id": ds_id,
                "name": f"dataset-{d}",
                "description": f"fixture dataset {d}",
                "author": rng.randint(1, 5),
                "public": d < 4,
                "created": base_ts + timedelta(days=d),
                "last_edited": base_ts + timedelta(days=d + 1),
            }
        )
        n_classes = 1 if d == 5 else rng.randint(2, 5)
        for c in range(n_classes):
            cls_id += 1
            cls_rows.append({"id": cls_id, "name": f"class-{d}-{c}", "description": None, "dataset": ds_id})
            n_members = 1 if d == 5 else rng.randint(10, 60)
            chosen = rng.sample(gids, min(n_members, len(gids)))
            for mbid in chosen:
                if rng.random() < 0.02:  # ~2% members not in lowlevel
                    mbid = str(uuid.UUID(int=rng.getrandbits(128), version=4)).lower()
                mem_rows.append({"class": cls_id, "mbid": mbid})

    return {
        "lowlevel": local_frame(spark, ll_rows, schemas.LOWLEVEL),
        "lowlevel_json": local_frame(spark, llj_rows, schemas.LOWLEVEL_JSON),
        "model": local_frame(spark, model_rows, schemas.MODEL),
        "highlevel": local_frame(spark, hl_rows, schemas.HIGHLEVEL),
        "highlevel_meta": local_frame(spark, hlmeta_rows, schemas.HIGHLEVEL_META),
        "highlevel_model": local_frame(spark, hlm_rows, schemas.HIGHLEVEL_MODEL),
        "dataset": local_frame(spark, ds_rows, schemas.DATASET),
        "dataset_class": local_frame(spark, cls_rows, schemas.DATASET_CLASS),
        "dataset_class_member": local_frame(spark, mem_rows, schemas.DATASET_CLASS_MEMBER),
    }
