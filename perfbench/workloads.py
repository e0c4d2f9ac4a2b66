"""Seeded workload generator and the independent Python model of the drain.

``generate(workload, seed, n_batches, out_dir)`` writes one frontier
parquet file per batch (and, for ``delete_churn``, one file of URLs to
delete per batch) and returns, per batch, what a correct drain must
produce. The expectations come from a plain-Python model of the drain's
semantics (robots prefixes, an exact seen ``set``, per-host top-K by
(priority, seq) under the crawl-delay quota, salting, per-host FIFO),
written without any of the program's code, so the program is checked
against an independent statement of what it should do.

The generator controls, per workload: host skew (Zipf plus one mega
host), the share of robots-disallowed paths, the share of each batch
that re-discovers URLs committed in the last ``distance`` batches, and
the host slice whose seen URLs each batch deletes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import pages

DISALLOW = ["/private", "/login"]
ALLOWED_SECTIONS = ["p", "a"]
DISALLOWED_SECTIONS = ["private", "login"]
BATCH_WINDOW_MS = 60_000
DEFAULT_K = 200
SALT_SPAN = 50
CRAWL_DELAYS_MS = [0, 500, 1000]  # quotas DEFAULT_K, 120, 60
HOSTS = 2_000  # Zipf-distributed, plus the mega host 0
MEGA_SHARE = 0.10  # share of new rows on host 0
ROBOTS_HOSTS = 200  # hosts 1..ROBOTS_HOSTS carry robots rules
COMPACT_EVERY = 4


def compacts(i: int) -> bool:
    """Compaction (with apply_deletes) runs every ``COMPACT_EVERY``-th
    batch, at batches 2, 6, 10, ...: after the warm-up batch 0, the
    second timed batch is a compaction batch."""
    return (i + 2) % COMPACT_EVERY == 0


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int  # frontier rows per batch
    disallowed_share: float  # share of new rows on a disallowed-looking path
    rediscover: float  # share of rows re-discovering URLs committed earlier
    distance: int  # ... in the last `distance` batches
    delete_slices: int  # 0: no deletes; else batch i deletes hosts with id % slices == i % slices
    redeleted: float  # share of rows re-discovering URLs deleted in the last `distance` batches
    parse: bool
    capacity: int  # SeenState expected_keys; undersized ones rebuild mid-run


WORKLOADS = {
    w.name: w
    for w in (
        Workload("fresh_parse", rows=6_000,
                 disallowed_share=0.10, rediscover=0.03,
                 distance=4, delete_slices=0, redeleted=0.0, parse=True,
                 capacity=400_000),
        Workload("recrawl_dedup", rows=30_000,
                 disallowed_share=0.05, rediscover=0.50,
                 distance=8, delete_slices=0, redeleted=0.0, parse=False,
                 capacity=8_000),
        Workload("delete_churn", rows=30_000,
                 disallowed_share=0.05, rediscover=0.40,
                 distance=8, delete_slices=16, redeleted=0.10, parse=False,
                 capacity=8_000),
    )
}


def host_name(i) -> str:
    return f"h{i}.bench.test"


def robots_rows() -> list[tuple[str, list[str], int]]:
    # fixed per host, not drawn from the seed: the largest Zipf hosts
    # carry rules, and a seed-drawn delay on them would swing the
    # scheduled count from seed to seed
    return [
        (host_name(h), list(DISALLOW), CRAWL_DELAYS_MS[h % len(CRAWL_DELAYS_MS)])
        for h in range(1, ROBOTS_HOSTS + 1)
    ]


def _hash_sum(values: pd.Series) -> int:
    """Order-free 64-bit digest: the wrapping sum of per-value hashes."""
    h = pd.util.hash_array(values.to_numpy(dtype=object))
    return int(h.sum(dtype=np.uint64))


def digest(urls: pd.Series, salt: pd.Series, fetch_order: pd.Series) -> dict:
    """Scheduled-set digest (count, URL hash sum) plus an order digest over
    (url, salt, fetch_order), which pins each URL's per-host FIFO slot."""
    slots = urls + "\t" + salt.astype(str) + "\t" + fetch_order.astype(str)
    return {"n": len(urls), "urls": _hash_sum(urls), "slots": _hash_sum(slots)}


class Model:
    """Plain-Python drain: what each batch must schedule and commit."""

    def __init__(self, robots: list[tuple[str, list[str], int]]):
        self.disallow = {h: tuple(p) for h, p, _ in robots}
        self.quota = {
            h: max(1, min(DEFAULT_K, BATCH_WINDOW_MS // d)) if d > 0 else DEFAULT_K
            for h, _, d in robots
        }
        self.seen: set[str] = set()
        self.by_host: dict[str, set[str]] = {}
        self.deleted: set[str] = set()  # ever deleted and not seen since

    def schedule(self, batch: pd.DataFrame) -> pd.DataFrame:
        rules = self.disallow
        denied = np.array(
            [h in rules and _path(u).startswith(rules[h]) for u, h in zip(batch["url"], batch["host"])],
            dtype=bool,
        )
        seen = np.array([u in self.seen for u in batch["url"]], dtype=bool)
        cand = batch[~denied & ~seen]
        cand = cand.sort_values(["host", "priority", "seq"], kind="mergesort")
        rank = cand.groupby("host", sort=False).cumcount() + 1
        quota = cand["host"].map(self.quota).fillna(DEFAULT_K)
        out = cand[rank <= quota].copy()
        rank = rank[rank <= quota]
        out["salt"] = (rank - 1) // SALT_SPAN
        out["fetch_order"] = (rank - 1) % SALT_SPAN
        return out

    def commit(self, urls: pd.Series) -> None:
        for u in urls:
            self.seen.add(u)
            self.by_host.setdefault(_host(u), set()).add(u)
        self.deleted.difference_update(urls)

    def delete_hosts(self, hosts: list[str]) -> list[str]:
        gone: list[str] = []
        for h in hosts:
            gone.extend(self.by_host.pop(h, ()))
        self.seen.difference_update(gone)
        self.deleted.update(gone)
        return sorted(gone)


def _host(url: str) -> str:
    return url[8 : url.index("/", 8)]  # after "https://"


def _path(url: str) -> str:
    return url[url.index("/", 8) :]


def _zipf_hosts(rng: np.random.Generator, n: int) -> np.ndarray:
    ranks = np.arange(1, HOSTS)
    p = 1.0 / ranks
    hosts = rng.choice(ranks, size=n, p=p / p.sum())
    hosts[rng.random(n) < MEGA_SHARE] = 0
    return hosts


def generate(w: Workload, seed: int, n_batches: int, out_dir: str) -> tuple[list, list[dict]]:
    """Write ``n_batches`` frontier files under ``out_dir`` and return
    (robots rows, per-batch expectations). Batch files are
    ``frontier_<i>.parquet``; delete files ``delete_<i>.parquet``."""
    rng = np.random.default_rng(seed)
    robots = robots_rows()
    model = Model(robots)
    os.makedirs(out_dir, exist_ok=True)
    committed: list[np.ndarray] = []
    deleted_recent: list[list[str]] = []
    next_uid = 0
    expected: list[dict] = []
    for i in range(n_batches):
        n_re = int(w.rows * w.rediscover) if committed else 0
        n_del = int(w.rows * w.redeleted) if deleted_recent else 0
        reuse: list[str] = []
        if n_del:
            pool = [u for d in deleted_recent[-w.distance:] for u in d if u in model.deleted]
            reuse += list(rng.choice(pool, size=min(n_del, len(pool)), replace=False)) if pool else []
        if n_re:
            pool = np.concatenate(committed[-w.distance:])
            pool = pool[np.array([u in model.seen for u in pool], dtype=bool)]
            reuse += list(rng.choice(pool, size=min(n_re, len(pool)), replace=False))
        n_new = w.rows - len(reuse)
        hosts = _zipf_hosts(rng, n_new)
        sections = np.where(
            rng.random(n_new) < w.disallowed_share,
            rng.choice(DISALLOWED_SECTIONS, size=n_new),
            rng.choice(ALLOWED_SECTIONS, size=n_new),
        )
        uids = np.arange(next_uid, next_uid + n_new)
        next_uid += n_new
        new_urls = (
            "https://h" + pd.Series(hosts).astype(str) + ".bench.test/"
            + pd.Series(sections) + "/" + pd.Series(uids).astype(str)
        )
        urls = pd.concat([new_urls, pd.Series(reuse, dtype=object)], ignore_index=True)
        urls = urls.iloc[rng.permutation(len(urls))].reset_index(drop=True)
        batch = pd.DataFrame({
            "url": urls,
            "host": [_host(u) for u in urls],
            "priority": rng.integers(0, 10, size=len(urls)).astype(np.int32),
            "seq": np.arange(i * w.rows, i * w.rows + len(urls), dtype=np.int64),
        })
        pq.write_table(
            pa.Table.from_pandas(batch, preserve_index=False),
            os.path.join(out_dir, f"frontier_{i}.parquet"),
        )

        sched = model.schedule(batch)
        exp = {
            "rows": len(batch),
            "rescheduled_deleted": [u for u in sched["url"] if u in model.deleted],
            **digest(sched["url"], sched["salt"], sched["fetch_order"]),
        }
        if w.parse:
            counts = np.array([pages.expected_counts(pages.page_id(u)) for u in sched["url"]])
            exp["docs"] = len(sched)
            exp["links"] = int(counts[:, 0].sum()) if len(counts) else 0
            exp["spans"] = int(counts[:, 1].sum()) if len(counts) else 0
        model.commit(sched["url"])
        committed.append(sched["url"].to_numpy(dtype=object))
        if w.delete_slices:
            gone = model.delete_hosts(
                [host_name(h) for h in range(i % w.delete_slices, HOSTS, w.delete_slices)]
            )
            pq.write_table(
                pa.table({"url": pa.array(gone, pa.string())}),
                os.path.join(out_dir, f"delete_{i}.parquet"),
            )
            deleted_recent.append(gone)
            exp["deleted"] = len(gone)
        exp["seen_after"] = len(model.seen)
        expected.append(exp)
    return robots, expected
