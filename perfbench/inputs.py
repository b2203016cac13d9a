"""Seeded inputs for the three workloads.

Transcripts come from the program's own generator
(``sources.transcripts.payload_for``).  A workload draws (conversation,
turn) keys in a seeded order and keeps each key only while the quota of
its payload class is open, so every seed yields the same number of turns
of each class (plain / html / pdf / image / bitmap / noise / garbage, in
the generator's default proportions) and seed-to-seed differences in a
pass are content, not mix.  The class of a key is read from the
generator's first random draw, so payloads of classes that are not wanted
are never rendered.  Bitmap and bare-image turns are further stratified
(see STRATA) by what drives their kernel time.

The documents + embeddings corpus has the shape of the sf directories the
registry queries read: ``documents(doc_id, text, lang, source, n_chars)``
over a 31-word vocabulary with 5 % near-duplicates (a copy plus the word
"dup") and a few exact copies, and ``embeddings(vec_id, embedding
float[64] unit-norm, label int)``; each table is one parquet file with one
row group.
"""

from __future__ import annotations

import base64
import bisect
from concurrent.futures import ProcessPoolExecutor
from datetime import timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from rapidocr_spark.sources.transcripts import (
    BASE_TS, ROLES, _rng, payload_for, turns_per_conv,
)
from rapidocr_spark.sources.reader import TRANSCRIPT_STRUCT

# upper edges of the generator's first draw, in payload_for's order
CLASSES = (
    ("plain", 0.40), ("html", 0.62), ("pdf", 0.68), ("image", 0.70),
    ("bitmap", 0.97), ("noise", 0.985), ("garbage", 1.0),
)
TEXT_CLASSES = ("plain", "html", "pdf")
WIDTH = dict(
    (name, hi - lo)
    for (name, hi), lo in zip(CLASSES, [0.0] + [hi for _, hi in CLASSES[:-1]])
)


def key_class(conv: int, turn: int) -> str:
    """Payload class of one key, from the generator's first draw."""
    r = float(_rng("payload", conv, turn).random())
    for name, hi in CLASSES:
        if r < hi:
            return name
    return CLASSES[-1][0]


# Strata of the two image classes, with each stratum's share of the class
# measured over the generator's turns.  Bitmap turns are stratified by pixel
# count (upper-exclusive edges at quantiles of 8,000 turns): it predicts
# their kernel time (correlation 0.94 over 900 turns).  Bare-image turns are
# stratified by container format (300 turns), which sets their decode cost:
# a PNG takes 2.6 ms, a progressive JPEG 23 ms.  Fixing the count per
# stratum keeps a pass's kernel work nearly the same for every seed.
BITMAP_EDGES = (
    837, 1053, 1469, 1917, 2349, 2970, 3402, 3834, 4698, 5130, 5751, 5994,
    6426, 6858, 7695, 8343, 8991, 9639, 10287, 33763, 52510, 69540, 86172,
)
IMAGE_FORMATS = ("png", "gif", "jpeg", "jpeg-progressive")
STRATA = {
    "bitmap": (
        0.0348, 0.0292, 0.0559, 0.0369, 0.0389, 0.0534, 0.0418, 0.0308, 0.0426,
        0.0352, 0.058, 0.0112, 0.0468, 0.0369, 0.0612, 0.0244, 0.0344, 0.0371,
        0.0475, 0.0764, 0.0415, 0.0416, 0.0406, 0.043,
    ),
    "image": (0.627, 0.177, 0.083, 0.113),
}
OVERSAMPLE = 3  # candidates rendered per stratified turn kept


def _split(n: int, shares: dict) -> dict:
    """``n`` split by ``shares`` (largest remainders)."""
    tot = sum(shares.values())
    raw = {k: n * v / tot for k, v in shares.items()}
    q = {k: int(v) for k, v in raw.items()}
    for k in sorted(shares, key=lambda k: q[k] - raw[k])[: n - sum(q.values())]:
        q[k] += 1
    return q


def quotas(n_turns: int, classes: tuple[str, ...]) -> dict[str, int]:
    """Per-class turn counts in the generator's proportions."""
    return _split(n_turns, {c: WIDTH[c] for c in classes})


def pick_keys(seed: int, n_turns: int, classes: tuple[str, ...], stream: str) -> list[tuple[int, int, str]]:
    """(conv, turn, class) keys in a seeded order of conversations
    (conversation 0, the golden anchors, is never drawn): the class quotas
    of ``n_turns``, with OVERSAMPLE times the quota for stratified
    classes."""
    want = {c: q * (OVERSAMPLE if c in STRATA else 1) for c, q in quotas(n_turns, classes).items()}
    rng = np.random.default_rng([seed, sum(map(ord, stream))])
    seen: set[int] = set()
    keys: list[tuple[int, int, str]] = []
    while any(want.values()):
        conv = int(rng.integers(1, 1_000_000))
        if conv in seen:
            continue
        seen.add(conv)
        for turn in range(turns_per_conv(conv)):
            k = key_class(conv, turn)
            if want.get(k, 0) > 0:
                want[k] -= 1
                keys.append((conv, turn, k))
    return sorted(keys)


def _stratum(payload: str, cls: str) -> int:
    if cls == "bitmap":
        h, w = payload.split(":", 2)[1].split("x")
        return bisect.bisect_right(BITMAP_EDGES, int(h) * int(w))
    if payload.startswith("iVBOR"):
        return IMAGE_FORMATS.index("png")
    if payload.startswith("R0lGOD"):
        return IMAGE_FORMATS.index("gif")
    progressive = b"\xff\xc2" in base64.b64decode(payload)  # SOF2 marker
    return IMAGE_FORMATS.index("jpeg-progressive" if progressive else "jpeg")


def _rows(keys: list[tuple[int, int, str]]) -> list[dict]:
    rows = []
    for conv, turn, cls in keys:
        role = ROLES[turn % 3]
        text = payload_for(conv, turn)
        rows.append(
            {
                "conv_id": f"conv{conv:06d}",
                "turn_idx": turn,
                "role": role,
                "text": text,
                "tool": f"tool{turn % 3}" if role == "tool" else "",
                "ts": BASE_TS + timedelta(seconds=60 * (conv * 1000 + turn)),
                "cls": cls,
                "stratum": _stratum(text, cls) if cls in STRATA else 0,
            }
        )
    return rows


def chunks(seq: list, n: int) -> list[list]:
    """``seq`` cut into at most ``n`` consecutive pieces."""
    step = max(1, -(-len(seq) // n))
    return [seq[i : i + step] for i in range(0, len(seq), step)]


def transcripts(seed: int, n_turns: int, classes: tuple[str, ...], stream: str,
                pool: ProcessPoolExecutor, workers: int) -> pd.DataFrame:
    """``n_turns`` turns rendered by the program's generator, in key order:
    class quotas as in ``quotas``, and for stratified classes the shares of
    STRATA, taking each stratum's candidates in key order."""
    keys = pick_keys(seed, n_turns, classes, stream)
    rows = [r for part in pool.map(_rows, chunks(keys, 4 * workers)) for r in part]
    keep = [r for r in rows if r["cls"] not in STRATA]
    for cls, q in quotas(n_turns, classes).items():
        if cls not in STRATA:
            continue
        cand = [r for r in rows if r["cls"] == cls]
        want = _split(q, dict(enumerate(STRATA[cls])))
        chosen, rest = [], []
        for r in cand:
            if want[r["stratum"]] > 0:
                want[r["stratum"]] -= 1
                chosen.append(r)
            else:
                rest.append(r)
        # a stratum short of candidates is made up from the rest, in key order
        keep += chosen + rest[: q - len(chosen)]
    keep.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    df = pd.DataFrame(keep, columns=[f.name for f in TRANSCRIPT_STRUCT.fields])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def write_transcripts(df: pd.DataFrame, path: str) -> None:
    """Parquet with the reader's schema: one file, one row group."""
    schema = pa.schema(
        [
            ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
            ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(1, len(df)))


# ---------------------------------------------------------------------------
# documents + embeddings

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def corpus(seed: int, n_docs: int, n_emb: int, out_dir: str) -> None:
    """Write documents.parquet and embeddings.parquet into ``out_dir``."""
    rng = np.random.default_rng([seed, 7])
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 20 and u < 0.05:  # near-duplicate: an earlier doc plus "dup"
            src = texts[int(rng.integers(0, i))].split()
            src.insert(int(rng.integers(0, len(src) + 1)), "dup")
            texts.append(" ".join(src))
        elif i > 20 and u < 0.052:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    lang_p = np.array([p for _, p in LANGS])
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j][0] for j in rng.choice(len(LANGS), n_docs, p=lang_p)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
        }
    )
    pq.write_table(docs, f"{out_dir}/documents.parquet", row_group_size=n_docs)
    pq.write_table(emb, f"{out_dir}/embeddings.parquet", row_group_size=n_emb)
