"""Seeded input generators for the benchmark.

Two families, both pure functions of ``seed``:

- :func:`make_tables` writes the ten tables the query registry reads
  (TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``)
  in the layout of the test fixture directories: the same schemas and
  parquet types (``events.ts`` as TIMESTAMP(NANOS), which ``load_table``
  reads through ``nanosAsLong``), value domains, key distributions, row
  counts per scale factor, duplicate style of ``documents`` and one row
  group per file. Row counts scale with ``sf`` (sf0.1: 600k lineitem rows).
- :func:`make_landing` writes a landing zone of nested, reference-shaped
  JSON-lines files for the ingest plane and returns a :class:`LandingPlan`
  that states every outcome the drain must produce: which files succeed or
  are quarantined, how many good and corrupt rows exist, which file the
  schema-drift gate must reject, and how many rows dedup must keep.
"""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import dataclass, field, replace
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
NEAR_DUP_MARK = "dup"
EMBED_DIM = 64
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D").astype("int64")


def seeded(seed: int, stream: int) -> np.random.Generator:
    """The generator for one independent stream of one seed."""
    return np.random.default_rng([seed, stream])


def _dates_us(rng, lo_day: int, n_days: int, n: int) -> pa.Array:
    days = _EPOCH_1995 + lo_day + rng.integers(0, n_days, n)
    return pa.array(days.astype("int64") * _DAY_US, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def word_soup(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


DUP_SHARE = 0.05  # copies among the fixture's documents
EXACT_SHARE = 1 / 30  # of those copies, the share that is verbatim


def near_duplicate(text: str) -> str:
    """The fixture's near-duplicate: the text with one word appended, so it
    shares all but one of its 3-word shingles with ``text``."""
    return f"{text} {NEAR_DUP_MARK}"


def documents(
    rng, n: int, first_id: int = 0, dup_share: float = DUP_SHARE, corpus=()
) -> tuple[list[tuple[int, str]], list[int | None]]:
    """``n`` (doc_id, text) rows of 10-99 word soup. ``dup_share`` of them
    are copies (verbatim one in 30, else :func:`near_duplicate`) of an
    original row anywhere in the list or, for half of them if ``corpus``
    is given, of a corpus text. Also returns what each row copies: ``None``
    for an original, its index for a row, ``-1 - k`` for ``corpus[k]``."""
    texts = [word_soup(rng, int(rng.integers(10, 100))) for _ in range(n)]
    src: list[int | None] = [None] * n
    copies = rng.choice(n, int(round(dup_share * n)), replace=False).tolist()
    originals = sorted(set(range(n)) - set(copies))
    for i in copies:
        if corpus and rng.random() < 0.5:
            k = int(rng.integers(0, len(corpus)))
            base, src[i] = corpus[k][1], -1 - k
        else:
            src[i] = originals[int(rng.integers(0, len(originals)))]
            base = texts[src[i]]
        texts[i] = base if rng.random() < EXACT_SHARE else near_duplicate(base)
    return [(first_id + i, t) for i, t in enumerate(texts)], src


def _write(out: Path, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet", row_group_size=1 << 24)


def make_tables(out_dir: str, seed: int, sf: float = 0.1) -> None:
    """Write the ten fixture tables for scale factor ``sf`` under ``out_dir``."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_evt, n_user = int(1_000_000 * sf), int(15_000 * sf)
    n_doc = n_emb = int(50_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rng = seeded(seed, 1)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    rng = seeded(seed, 2)
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    rng = seeded(seed, 3)
    adjectives = np.array("blue hot large red small cold green tiny".split())
    nouns = np.array("anvil bolt gear nut ring spring valve widget".split())
    types = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
            nouns[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    rng = seeded(seed, 4)
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates_us(rng, 0, 2405, n_ord),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    })
    rng = seeded(seed, 5)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _dates_us(rng, 1, 2499, n_line),
    })
    rng = seeded(seed, 6)
    start_ns = np.datetime64("2024-01-01", "ns").astype("int64")
    ts = np.sort(start_ns + rng.integers(0, 30 * _DAY_US * 1000, n_evt))
    ks = rng.integers(0, 100, n_evt)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_evt)
        ],
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in ks],
    })
    rng = seeded(seed, 7)
    docs, _ = documents(rng, n_doc)
    texts = [t for _, t in docs]
    _write(out, "documents", {
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "en", "en", "es", "fr", "zh"])[
            rng.integers(0, 7, n_doc)
        ],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    rng = seeded(seed, 8)
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


# --------------------------------------------------------------------------
# Landing zone for the ingest plane
# --------------------------------------------------------------------------
@dataclass
class LandingPlan:
    """What a correct drain of one generated landing zone must produce."""

    root: str
    files: list[str] = field(default_factory=list)
    good_rows: int = 0  # rows that must reach the curated lake
    corrupt_lines: int = 0  # lines that must reach the DLQ
    corrupt_files: set[str] = field(default_factory=set)
    drift_file: str = ""  # the one incompatible-type file
    input_bytes: int = 0
    kept_rows: int = 0  # good rows dedup keeps if it finds every planted copy

    def copy_to(self, root: str) -> "LandingPlan":
        """Copy the landing zone to ``root``; return the plan for the copy."""
        import shutil

        shutil.copytree(self.root, root)

        def moved(path: str) -> str:
            return root + path[len(self.root):]

        return replace(
            self,
            root=root,
            files=[moved(p) for p in self.files],
            corrupt_files={moved(p) for p in self.corrupt_files},
            drift_file=moved(self.drift_file),
        )

    @property
    def quarantined(self) -> set[str]:
        return self.corrupt_files | {self.drift_file}

    @property
    def succeeded(self) -> set[str]:
        return set(self.files) - self.quarantined


N_PREFIXES = 16  # DISCOVERY_FANOUT_THRESHOLD: the listing fans out
_EVENT_DAYS = ("2024-03-04", "2024-03-05", "2024-03-06")
_MODES = ("train", "eval")


def _record(rng, rid: str, doc: tuple[int, str], drift_col: bool) -> dict:
    rec = {
        "id": rid,
        "event_timestamp": (
            f"{_EVENT_DAYS[int(rng.integers(0, len(_EVENT_DAYS)))]}T"
            f"{int(rng.integers(0, 24)):02d}:{int(rng.integers(0, 60)):02d}:00Z"
        ),
        "MODE": _MODES[int(rng.integers(0, len(_MODES)))],
        "metadata": {
            "app_version": f"1.{int(rng.integers(0, 4))}.0",
            "user_agent": f"ua-{int(rng.integers(0, 8))}",
        },
        "payload": {
            "transaction_id": f"t-{rid}",
            "items": [
                {"sku": f"sku-{int(rng.integers(0, 500))}", "qty": int(rng.integers(1, 6))}
                for _ in range(int(rng.integers(1, 4)))
            ],
        },
        "doc_id": doc[0],
        "text": doc[1],
    }
    if drift_col:
        rec["channel"] = "web"  # additive drift: a new top-level key
    return rec


def _kept_rows(src: list[int | None], good: list[bool]) -> int:
    """Good rows left once every planted copy is found: a group (an original
    and its copies) keeps one good member, none if the original is a corpus
    text, which the index already holds."""
    members: dict[int, int] = Counter()
    for i, ok in enumerate(good):
        if ok:
            members[i if src[i] is None else src[i]] += 1
    return sum(1 for key, n in members.items() if n and key >= 0)


def _landing_path(root: str, i: int, n_files: int) -> Path:
    if i == n_files - 1:  # the drift file sorts last among the keys
        return Path(root) / f"2024-w{N_PREFIXES:02d}" / "zz_drift" / "f_drift.json"
    return Path(root) / f"2024-w{i % N_PREFIXES + 1:02d}" / f"d{i // N_PREFIXES}" / f"f{i:04d}.json"


def make_landing(
    root: str,
    seed: int,
    n_files: int = 48,
    rows_per_file: int = 24,
    corpus: list[tuple[int, str]] | None = None,
) -> LandingPlan:
    """Write ``n_files`` JSON-lines files under ``N_PREFIXES`` week prefixes
    (``2024-wNN/dD/``). Planted: corrupt lines in three files, an additive
    ``channel`` key in three others, and one file whose ``payload`` is a
    string instead of a struct (the drift gate must quarantine it; it sorts
    last, so the first batch has already fixed the contract). 10% of the
    texts are copies of other rows or of ``corpus`` texts.

    The planted files sit at the same places in key order for every seed,
    spread over the zone, so a batch of the drain meets the same plants
    whatever the seed: the seed changes the contents, not the work."""
    rng = seeded(seed, 9)
    plan = LandingPlan(root=root)
    pool, src = documents(
        rng, n_files * rows_per_file, first_id=10_000_000, dup_share=0.1, corpus=corpus or ()
    )
    paths = [_landing_path(root, i, n_files) for i in range(n_files)]
    by_key = sorted(range(n_files - 1), key=lambda i: paths[i])
    spots = [(2 * k + 1) * (n_files - 1) // 6 for k in range(3)]
    corrupt_idx = [by_key[p] for p in spots]
    drift_col_idx = {by_key[p + 1] for p in spots}
    for i, path in enumerate(paths):
        is_drift = i == n_files - 1
        lines = []
        for j in range(rows_per_file):
            doc = pool[i * rows_per_file + j]
            rec = _record(rng, f"r-{i}-{j}", doc, i in drift_col_idx)
            if is_drift:
                rec["payload"] = "now-a-string"
            lines.append(json.dumps(rec))
        if i in corrupt_idx:
            bad = ['{"id": "broken", "event_timestamp": ', "not json at all"]
            n_bad = 1 + corrupt_idx.index(i) % 2
            for b in range(n_bad):
                lines.insert(int(rng.integers(0, len(lines) + 1)), bad[b])
            plan.corrupt_lines += n_bad
            plan.corrupt_files.add(str(path))
        path.parent.mkdir(parents=True, exist_ok=True)
        data = "\n".join(lines) + "\n"
        path.write_text(data)
        plan.files.append(str(path))
        plan.input_bytes += len(data.encode())
        if is_drift:
            plan.drift_file = str(path)
        else:
            plan.good_rows += rows_per_file
    good = [i < plan.good_rows for i in range(len(pool))]  # the drift file is last
    plan.kept_rows = _kept_rows(src, good)
    return plan
