"""Seeded input generators for the benchmark.

Everything the engine sees is produced here from the run's ``--seed``
and written to files: the TPC-H-ish star schema the graded queries read
(same table names, schemas, row counts and value domains as the sf0.1
fixtures), and ``CHANGE_EVENT``-shaped change streams for the CDC and
event-store workloads. The same seed gives byte-identical content.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- TPC-H-ish fixture tables -------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]

EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1995 + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf`` (row counts scale 10x per
    0.1 step like the fixtures; documents/embeddings are fixed-size)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = 5000, 2000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
        }
    )
    span = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(rng.integers(0, span + 1, n_ord)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    disc = rng.integers(0, 21, n_li)  # 0 and 10 half as likely, like the fixture
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round((disc + 1) // 2 / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(rng.integers(1, span + 96, n_li)),
        }
    )
    ev_secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + (ev_secs * 1e6).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, 1500, n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": np.array([f'{{"k": {k}}}' for k in range(100)])[
                rng.integers(0, 100, n_ev)
            ],
        }
    )
    texts = []
    words = np.array(DOC_WORDS)
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group snappy parquet file per table, like the
    fixtures; a ``_READY`` marker makes a finished directory reusable."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(
            tab, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(tab) or 1
        )
    open(os.path.join(out_dir, "_READY"), "w").close()


# --- change events --------------------------------------------------------

CHANGE_SCHEMA = pa.schema(
    [
        ("schema_name", pa.string()),
        ("table", pa.string()),
        ("action", pa.string()),
        ("pk", pa.string()),
        ("row", pa.map_(pa.string(), pa.string())),
        ("old_row", pa.map_(pa.string(), pa.string())),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("offset", pa.int64()),
        ("txn_id", pa.string()),
    ]
)
ACTIONS = ("write", "update", "delete")
US_PER_DAY = 86_400_000_000


class ChangeGen:
    """Seeded ``CHANGE_EVENT`` stream.

    Keys are zipf-skewed within each table (rank r drawn with weight
    r**-zipf_s over ``n_keys`` ranks, ranks mapped to pks by a seeded
    permutation). Event time advances by ``us_per_event`` per offset; a
    ``late_share`` of events carry a timestamp up to ``late_max_us``
    older. ``offset`` is the dense global position, so a batch is fully
    described by its offset range and every event can be re-derived.
    """

    def __init__(
        self,
        seed: int,
        tables: tuple[str, ...],
        table_p: tuple[float, ...],
        n_keys: int,
        zipf_s: float,
        action_p: tuple[float, float, float],
        late_share: float,
        late_max_us: int,
        us_per_event: int,
        t0: dt.datetime,
    ):
        self.seed = seed
        self.tables = tables
        self.table_p = np.asarray(table_p, dtype=np.float64)
        self.n_keys = n_keys
        w = np.arange(1, n_keys + 1, dtype=np.float64) ** -zipf_s
        self.key_cdf = np.cumsum(w / w.sum())
        self.key_perm = np.random.default_rng([seed, 2]).permutation(n_keys)
        self.action_p = np.asarray(action_p, dtype=np.float64)
        self.late_share = late_share
        self.late_max_us = late_max_us
        self.us_per_event = us_per_event
        self.t0_us = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    def columns(self, start: int, n: int) -> dict[str, np.ndarray]:
        """Event fields for offsets [start, start+n) as numpy arrays. The
        stream is generated in fixed 4096-offset blocks, each from its own
        sub-seed, so any range is identical however it is split."""
        lo, hi = start // 4096, (start + n + 4095) // 4096
        parts = [self._block(b) for b in range(lo, hi)]
        cat = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
        cut = slice(start - lo * 4096, start - lo * 4096 + n)
        return {k: v[cut] for k, v in cat.items()}

    def _block(self, b: int) -> dict[str, np.ndarray]:
        rng = np.random.default_rng([self.seed, 3, b])
        n = 4096
        offset = np.arange(b * n, (b + 1) * n, dtype=np.int64)
        table = rng.choice(len(self.tables), n, p=self.table_p).astype(np.int8)
        rank = np.searchsorted(self.key_cdf, rng.random(n), side="right")
        pk = self.key_perm[np.minimum(rank, self.n_keys - 1)].astype(np.int64)
        action = rng.choice(3, n, p=self.action_p).astype(np.int8)
        late = rng.random(n) < self.late_share
        lag = rng.integers(1, self.late_max_us + 1, n)
        ts = self.t0_us + offset * self.us_per_event - np.where(late, lag, 0)
        val = rng.integers(0, 1_000_000, n)
        return {"offset": offset, "table": table, "pk": pk, "action": action,
                "ts": ts, "val": val}

    def arrow(self, cols: dict[str, np.ndarray]) -> pa.Table:
        """The ``CHANGE_EVENT`` rows for ``columns()`` output. The row
        image is ``{pk, v}``; deletes carry a NULL row."""
        n = len(cols["offset"])
        pk = cols["pk"].astype(str)
        val = cols["val"].astype(str)
        is_del = cols["action"] == 2
        live = ~is_del
        m = int(live.sum())
        keys = np.empty(2 * m, dtype=object)
        keys[0::2], keys[1::2] = "pk", "v"
        items = np.empty(2 * m, dtype=object)
        items[0::2], items[1::2] = pk[live], val[live]
        ends = np.cumsum(np.where(live, 2, 0))
        offsets = np.concatenate([[0], ends]).astype(np.int32)
        row = pa.MapArray.from_arrays(
            pa.array(offsets, mask=np.append(is_del, False)),
            pa.array(keys, pa.string()),
            pa.array(items, pa.string()),
        )
        return pa.table(
            {
                "schema_name": pa.array(np.full(n, "app", dtype=object), pa.string()),
                "table": pa.array(np.array(self.tables, dtype=object)[cols["table"]], pa.string()),
                "action": pa.array(np.array(ACTIONS, dtype=object)[cols["action"]], pa.string()),
                "pk": pa.array(pk.astype(object), pa.string()),
                "row": row,
                "old_row": pa.nulls(n, pa.map_(pa.string(), pa.string())),
                "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
                "offset": pa.array(cols["offset"], pa.int64()),
                "txn_id": pa.array(
                    np.char.add("txn-", (cols["offset"] // 8).astype(str)).astype(object),
                    pa.string(),
                ),
            },
            schema=CHANGE_SCHEMA,
        )


def latest_image(cols: dict[str, np.ndarray]) -> dict[tuple[int, int], tuple[int, int, int]]:
    """Reference compaction: per (table, pk), the event with the greatest
    (ts, offset); deletes drop out. Value = (ts_us, offset, val)."""
    order = np.lexsort((cols["offset"], cols["ts"], cols["pk"], cols["table"]))
    t, p = cols["table"][order], cols["pk"][order]
    last = np.ones(len(order), dtype=bool)
    last[:-1] = (t[1:] != t[:-1]) | (p[1:] != p[:-1])
    idx = order[last]
    keep = idx[cols["action"][idx] != 2]
    return {
        (int(cols["table"][i]), int(cols["pk"][i])): (
            int(cols["ts"][i]), int(cols["offset"][i]), int(cols["val"][i]))
        for i in keep
    }
