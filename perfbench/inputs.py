"""Seeded inputs shared by the endpoint double and the benchmark runner.

Everything here is a pure function of the workload seed, so the double
(which serves the lookup table, the pages and the fault schedule) and the
runner (which builds the probe and the reference result) agree without
exchanging data. The engine only ever sees what these functions generate.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Dict, List

_MASK = (1 << 64) - 1


def mix(seed: int, value: int) -> int:
    """SplitMix64 finaliser of ``(seed, value)``: a fixed 64-bit hash."""
    z = (seed * 0x9E3779B97F4A7C15 + value + 0x632BE59BD9B4E5) & _MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK
    return z ^ (z >> 31)


def row_of(seed: int, key: int) -> Dict[str, object]:
    """The double's table row for ``key`` (also the scan's record ``key``)."""
    h = mix(seed, key)
    return {"id": key, "name": f"c{h & 0xFFFFFFFF:08x}", "v": h % 1_000_003}


def row_json(seed: int, key: int) -> bytes:
    return json.dumps(row_of(seed, key), separators=(",", ":")).encode()


def faulted(seed: int, salt: int, value: int, permille: int) -> bool:
    """Whether ``value`` (a key, or a body checksum) is in the seeded share
    of exchanges whose first attempt the double answers with 503."""
    return mix(seed ^ salt, value) % 1000 < permille


#: fault-schedule salts, so lookup and sink faults are independent draws
LOOKUP_FAULT_SALT = 0x51
SINK_FAULT_SALT = 0x52


@dataclass(frozen=True)
class Sizes:
    """Per-workload sizes. One batch pass takes two to four seconds on a
    4-CPU machine, so a run measures several."""

    # lookup_skewed_cached
    skew_domain: int = 2000
    skew_exponent: float = 1.3
    skew_rows: int = 400_000
    lookup_partitions: int = 4
    lookup_fault_permille: int = 50
    # shared lookup cache: holds the whole skewed domain
    cache_rows: int = 2048
    # scan_sink
    scan_pages: int = 96
    scan_page_rows: int = 1000
    scan_pages_per_partition: int = 24
    sink_fault_permille: int = 50
    # stream_enrich_sink: the ``rate-micro-batch`` source puts the same
    # number of events in every micro-batch, one trigger period's worth, so
    # batch sizes do not depend on when a trigger fires. (The ``rate``
    # source releases whole seconds of events: with a 2 s trigger a batch
    # took 1, 2 or 3 s of events.) A micro-batch takes about 0.8 s of its
    # 2 s period, so a host that runs twice as slow still keeps up.
    stream_rate: int = 1000
    stream_trigger_s: int = 2
    stream_domain: int = 20_000
    stream_lookup_batch: int = 100

    @property
    def stream_batch_rows(self) -> int:
        """Rows in one steady micro-batch."""
        return self.stream_rate * self.stream_trigger_s


SIZES = Sizes()


def zipf_probe(seed: int, sizes: Sizes = SIZES) -> "pd.DataFrame":
    """Skewed probe: ``skew_rows`` rows over a ``skew_domain``-key Zipf
    distribution, laid out as ``lookup_partitions`` equal, consecutive row
    groups with disjoint key sets.

    Keys go to groups heaviest first onto the lightest group, then each
    group draws its rows from its own keys. Disjoint key sets make the
    request count exact: each key is fetched once per pass, whichever
    Python worker runs which partition."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    d, parts = sizes.skew_domain, sizes.lookup_partitions
    weights = 1.0 / np.arange(1, d + 1) ** sizes.skew_exponent
    keys_by_rank = rng.permutation(d)
    load = [0.0] * parts
    members: List[List[int]] = [[] for _ in range(parts)]
    for rank in range(d):
        g = min(range(parts), key=load.__getitem__)
        members[g].append(rank)
        load[g] += weights[rank]
    per_group = sizes.skew_rows // parts
    keys = []
    for ranks in members:
        w = weights[ranks]
        keys.append(keys_by_rank[rng.choice(ranks, size=per_group, p=w / w.sum())])
    n = per_group * parts
    return pd.DataFrame({
        "rid": np.arange(n, dtype=np.int64),
        "k": np.concatenate(keys).astype(np.int64),
        "qty": rng.integers(0, 1000, n, dtype=np.int64),
    })


def table(seed: int, keys: int) -> "pd.DataFrame":
    """The double's lookup table as a frame (the reference's right side)."""
    import numpy as np
    import pandas as pd

    rows = [row_of(seed, k) for k in range(keys)]
    return pd.DataFrame({
        "k": np.array([r["id"] for r in rows], dtype=np.int64),
        "name": np.array([r["name"] for r in rows], dtype=object),
        "v": np.array([r["v"] for r in rows], dtype=np.int64),
    })


#: column order of an enriched lookup row, as digested by the output checks
LOOKUP_OUT_COLS: List[str] = ["rid", "k", "qty", "name", "v"]


def row_digest(pdf: "pd.DataFrame") -> Dict[str, int]:
    """Order-independent digest of enriched rows: the row count and the sum
    of CRC-32 over ``"rid|k|qty|name|v"``. Spark computes the same digest
    with ``crc32(concat_ws('|', ...))``, so a pandas reference and a Spark
    output compare exactly. A missing value changes the row's text."""
    import zlib

    rows = zip(*(pdf[c].tolist() for c in LOOKUP_OUT_COLS))
    return {
        "n": len(pdf),
        "h": sum(zlib.crc32("|".join(map(str, row)).encode()) for row in rows),
    }


def reference_digest(probe: "pd.DataFrame", tab: "pd.DataFrame") -> Dict[str, int]:
    """Digest of the reference join: a pandas merge of the probe with the
    double's table."""
    return row_digest(probe.merge(tab, on="k", how="left"))


def stream_key_params(seed: int, sizes: Sizes = SIZES) -> tuple:
    """``k = (value * a + b) % stream_domain`` for the rate source's
    ``value``: a seeded affine map with ``a`` coprime to the domain, so any
    ``stream_domain`` consecutive values get distinct keys. A micro-batch
    (a tenth of the domain) never repeats a key, whatever the seed."""
    from math import gcd

    d = sizes.stream_domain
    a = mix(seed, 1) % d
    while gcd(a, d) != 1:
        a += 1
    return a, mix(seed, 2) % d
