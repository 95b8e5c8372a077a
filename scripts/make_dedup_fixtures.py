"""Regenerate tests/fixtures/{minhash,simhash}_pairs_expected.parquet.

INDEPENDENT plain-Python implementations (scalar loops, Python big-int
arithmetic, no numpy, no engine imports on the value path) of the
MinHash-LSH and SimHash near-dup pipelines over the deterministic
sources/docs_gen corpus. The driver's DuckDB gate then checks the
distributed vectorized engine (operators/dedup.py) against these via a
plain SELECT (testdata_queries.SQL_MINHASH / SQL_SIMHASH) — the same
fixture-oracle pattern as pipeline_nodes (make_pipeline_fixture.py).

Pinned semantics (must match operators/dedup.py's module docstring):
  token hash = crc32(utf-8), tokens = \\W+ split of lower()
  gram hash  = FNV-1a fold of n=3 token hashes mod 2^64, signed-int64 view
  minhash    = min over grams of int64-wrapped (a*x+b) mod 2^61-1
  band hash  = md5 of the comma-joined 4-row signature slice, 16 bands
  verify     = exact distinct-gram Jaccard >= 0.5, micro-unit floor
  simhash    = sign-sum of per-token byte-wise FNV-1a-64 bits; candidates
               share a 16-bit chunk (4 chunks); hamming <= 8
  star cap   = buckets larger than max_bucket emit only (min-id, other)
               star pairs; smaller buckets emit all pairs (the capped
               fixture pins the skew-control branch, which round 3 left
               outside any oracle — ADVICE.md r3)

The permutation constants are embedded as literals (independence from the
engine's numpy derivation) and asserted equal to the engine's at
generation time so a drifted seed fails HERE, not in the gate.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import sys
import zlib
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmi_water_spark.sources.docs_gen import dedup_corpus  # noqa: E402  (input data only)

_M61 = (1 << 61) - 1
_FNV_PRIME = 1099511628211
_FNV_OFFSET = 14695981039346656037
_TOKEN_RE = re.compile(r"\W+")

# np.random.RandomState(42).randint over [1, 2^61-1) / [0, 2^61-1), 64 each —
# frozen as literals; asserted against the engine's derivation in main().
_A = [
    2297359619001564596, 1396682528897996047, 1973689801170867272, 1819927849474927637,
    572192888165898362, 571748048327668951, 1071453510346823115, 2143071682933157237,
    1865242737500154728, 1532418594269339779, 379716980844854581, 1750777661071092056,
    1520798217888136606, 1611122243678701954, 1048235628103308220, 1077373049702139041,
    1000592739665268026, 456675647751657725, 1050450229337746265, 760543396461257179,
    2063321781277379071, 267364570529679360, 777431531920034492, 2146497176616232719,
    1495477363401685950, 648881935158774718, 1377488174878099308, 262579006026876148,
    1704747971477620217, 856858769658023397, 1983852346201383559, 839771884757445449,
    1199990111390225682, 1362947483897176665, 1671865959972055054, 1077240956986238970,
    1007446255075745114, 1801732545371167618, 1092656530294298716, 1201851346935503804,
    2251208029941317036, 2216872713715991304, 634356285132873763, 633099677421309009,
    161962062168655410, 692163906031803780, 1138368374822601726, 370189644521515574,
    861652531725782788, 1104119908775765469, 1744778438383761810, 463618807884355116,
    1189795419742834890, 365750060173591524, 1805935812952358751, 864677038069918991,
    1632398491907562958, 1309402721808639228, 834296198785359550, 1389599250197995221,
    252301427447193325, 393820126512235375, 1452450688103961368, 1969251275389991129,
]
_B = [
    570641018389960891, 787603798186516972, 293750097594324124, 962864383515356972,
    1375216642409152344, 2063949654057552392, 410343612402300032, 1359814319648410247,
    101865178233748542, 1207550233880778226, 1510001446519210375, 1918593514066211234,
    392368560994791802, 1365882634414198249, 2000839474307464185, 2137406799659846683,
    2086389863579132104, 2274448960578859787, 1492305152117099552, 1172444636525752822,
    1124925287146532413, 1386887510159385380, 1929643330193279659, 231644453789772501,
    225285373686556194, 1793298793622896354, 2206124335314378670, 1627828948548348546,
    198948935564477444, 1130364857072845302, 386776297324261773, 2191391983603931930,
    419346625420198094, 969210764397336409, 468900105785203579, 1990245566174715570,
    579766154391765855, 210484898835848432, 1187158319135118332, 158101386990278531,
    600745515900680676, 2292786955474901222, 652699705481037454, 102400447934616092,
    1914738081494129164, 1420028748837633862, 733284897621110002, 668164788960253723,
    1008993515362167465, 1072131779469420093, 155022034638842868, 2240552382924550939,
    990075153342510699, 1135767110662776147, 323906358285871037, 725736267669063295,
    1059583932984535030, 389065880395732440, 1254442603959937213, 2030099650348479872,
    1898818616440063258, 961219165520271992, 1254651014867448780, 2042618724242302210,
]


def _tokens(text: str) -> list[str]:
    return [t for t in _TOKEN_RE.split((text or "").lower()) if t]


def _gram_set(text: str, n: int = 3) -> set[int]:
    hs = [zlib.crc32(t.encode()) for t in _tokens(text)]
    if not hs:
        return set()
    windows = [hs] if len(hs) < n else [hs[i : i + n] for i in range(len(hs) - n + 1)]
    out = set()
    for w in windows:
        g = _FNV_OFFSET
        for hv in w:
            g = ((g ^ hv) * _FNV_PRIME) % (1 << 64)
        out.add(g - (1 << 64) if g >= (1 << 63) else g)
    return out


def _wrap64(v: int) -> int:
    return ((v + (1 << 63)) % (1 << 64)) - (1 << 63)


def minhash_expected(docs, threshold=0.5, bands=16, rows=4, n=3,
                     max_bucket=None):
    """Expected near-dup pairs; ``max_bucket`` mirrors the engine's
    star-cap semantics (bucket_pairs): an over-cap bucket emits only
    (min-id, other) pairs. Returns (pairs, n_overcap_buckets)."""
    shingles = {did: _gram_set(text, n) for did, text in docs}
    sigs = {}
    for did, _ in docs:
        s = shingles[did]
        if not s:
            sigs[did] = [0] * (bands * rows)
            continue
        sig = []
        for a, b in zip(_A, _B):
            best = None
            for x in s:
                v = _wrap64(a * x + b) % _M61
                if best is None or v < best:
                    best = v
            sig.append(best)
        sigs[did] = sig
    buckets = defaultdict(list)
    for did, sig in sigs.items():
        for bi in range(bands):
            key = ",".join(str(sig[bi * rows + r]) for r in range(rows))
            buckets[(bi, hashlib.md5(key.encode()).hexdigest())].append(did)
    cand = set()
    n_overcap = 0
    for ids in buckets.values():
        ids = sorted(ids)
        if max_bucket is not None and len(ids) > max_bucket:
            n_overcap += 1
            rep = ids[0]
            for other in ids[1:]:
                cand.add((rep, other))
            continue
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = []
    for a, b in sorted(cand):
        sa, sb = shingles[a], shingles[b]
        union = len(sa | sb)
        jac = len(sa & sb) / union if union else 0.0
        if jac >= threshold:
            out.append((a, b, math.floor(jac * 1e6 + 0.5)))
    return out, n_overcap


def _fnv1a64(s: str) -> int:
    h = _FNV_OFFSET
    for byte in s.encode():
        h = ((h ^ byte) * _FNV_PRIME) % (1 << 64)
    return h


def _simhash(text: str) -> int:
    toks = _tokens(text)
    if not toks:
        return 0
    acc = [0] * 64
    for t in toks:
        h = _fnv1a64(t)
        for bit in range(64):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    v = 0
    for bit in range(64):
        if acc[bit] > 0:
            v |= 1 << bit
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash_expected(docs, max_hamming=8, chunks=4):
    sh = {did: _simhash(text) for did, text in docs}
    w = 64 // chunks
    buckets = defaultdict(set)
    for did, v in sh.items():
        u = v % (1 << 64)
        for c in range(chunks):
            buckets[(c, (u >> (c * w)) & ((1 << w) - 1))].add(did)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = []
    for a, b in sorted(cand):
        ham = bin((sh[a] % (1 << 64)) ^ (sh[b] % (1 << 64))).count("1")
        if ham <= max_hamming:
            out.append((a, b, ham))
    return out


def main() -> None:
    # guard (assert-only, not on the value path): literals == engine seeds
    from osmi_water_spark.operators import dedup as D

    assert [int(x) for x in D._A] == _A and [int(x) for x in D._B] == _B, (
        "engine permutation seeds drifted from the fixture literals — "
        "regenerate the literals in this file"
    )
    assert D._FNV_PRIME == _FNV_PRIME and D._FNV_OFFSET == _FNV_OFFSET

    docs = dedup_corpus()
    fdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures"
    )
    os.makedirs(fdir, exist_ok=True)

    mh, _ = minhash_expected(docs)
    pq.write_table(
        pa.table({
            "a": pa.array([r[0] for r in mh], pa.int64()),
            "b": pa.array([r[1] for r in mh], pa.int64()),
            "jaccard_u": pa.array([r[2] for r in mh], pa.int64()),
        }),
        os.path.join(fdir, "minhash_pairs_expected.parquet"),
    )
    print(f"minhash: {len(mh)} expected pairs")

    # capped variant: cap chosen so the corpus's dup clusters EXCEED it —
    # the gate then actually runs the star-cap branch (and the query runs
    # salt>1, covering the salt-replication branch; salting is exact so it
    # changes no pairs)
    cap = 2
    mhc, n_overcap = minhash_expected(docs, max_bucket=cap)
    assert n_overcap > 0, (
        f"max_bucket={cap} capped no bucket on this corpus — the fixture "
        "would not exercise the star branch; lower the cap"
    )
    pq.write_table(
        pa.table({
            "a": pa.array([r[0] for r in mhc], pa.int64()),
            "b": pa.array([r[1] for r in mhc], pa.int64()),
            "jaccard_u": pa.array([r[2] for r in mhc], pa.int64()),
        }),
        os.path.join(fdir, "minhash_pairs_capped_expected.parquet"),
    )
    print(f"minhash capped (max_bucket={cap}): {len(mhc)} expected pairs, "
          f"{n_overcap} over-cap buckets starred")

    sh = simhash_expected(docs)
    pq.write_table(
        pa.table({
            "a": pa.array([r[0] for r in sh], pa.int64()),
            "b": pa.array([r[1] for r in sh], pa.int64()),
            "hamming": pa.array([r[2] for r in sh], pa.int32()),
        }),
        os.path.join(fdir, "simhash_pairs_expected.parquet"),
    )
    print(f"simhash: {len(sh)} expected pairs")


if __name__ == "__main__":
    main()
