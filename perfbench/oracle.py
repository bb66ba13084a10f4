"""Expected outputs of one benchmark pass, computed without Spark.

This is ``tests/oracle_crawler.py``'s control flow (dedup, token budgets,
robots, per-host top-k, fetch, retry, discovery) re-expressed over pandas
frames so that it runs at benchmark size in seconds. It shares the engine's
pinned vectorized kernels (canonicalize, host, outlinks) and takes each
page's text from the corpus's own ``text`` column, which the corpus
generator produces with the engine's pinned extractor. ``test_perfbench``
checks it against ``tests/oracle_crawler.py`` on a small input.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from spiderspark.canon import (
    canonicalize_series,
    extract_outlinks_series,
    host_of_series,
    parse_robots,
    robots_allowed,
)
from spiderspark.hashing import xxhash64_int

MAX_URL_LEN = 2048
ROUND_SECONDS = 60.0  # HostPolicy.round_seconds default
MAX_DEPTH = 64        # CrawlConfig defaults
MAX_ATTEMPTS = 2
ORDER = ["priority", "depth", "discovered_batch", "url_hash"]
DEDUP = ["url_hash", "priority", "depth", "discovered_batch", "url", "attempt"]


def hashes(strings: pd.Series) -> np.ndarray:
    return np.fromiter(
        (xxhash64_int(s) for s in strings), dtype=np.int64, count=len(strings)
    )


def xor_digest(strings) -> int:
    out = 0
    for s in strings:
        out ^= xxhash64_int(s)
    return out


def schedule_digest(sched: pd.DataFrame) -> int:
    """bit_xor(xxhash64(concat(rank, ':', url_hash))) over a ranked schedule."""
    return xor_digest(
        f"{r}:{h}" for r, h in zip(range(1, len(sched) + 1), sched["url_hash"])
    )


def text_digest(url_hash, text) -> int:
    """bit_xor(xxhash64(concat(url_hash, ':', xxhash64(text)))) over
    fetched pages."""
    return xor_digest(f"{h}:{xxhash64_int(t)}" for h, t in zip(url_hash, text))


def _path_of(url_norm: str) -> str:
    rest = url_norm.split("://", 1)[1]
    slash = rest.find("/")
    return rest[slash:] if slash >= 0 else "/"


class Oracle:
    def __init__(self, robots: pd.DataFrame, budget: float, pages: pd.DataFrame):
        self.budget = float(budget)
        # host → [tokens, capacity, refill, crawl_delay, rules]
        self.hosts: dict[str, list] = {}
        for host, body in zip(robots["host"], robots["body"]):
            rules, delay = parse_robots(body)
            self.hosts[host] = [0.0, self.budget, self.budget, delay, rules]
        norm = canonicalize_series(pages["url"])
        self.pages = pd.DataFrame(
            {"html": pages["html"].to_numpy(), "text": pages["text"].to_numpy()},
            index=hashes(norm),
        )
        self.seen: set[int] = set()
        self.frontier: pd.DataFrame | None = None
        self.batch_id = 0

    # -- item construction (mirror of oracle_crawler._make_item) ---------
    def _items(self, df: pd.DataFrame) -> pd.DataFrame:
        df = df.reset_index(drop=True)
        norm = canonicalize_series(df["url"].astype(object))
        host = host_of_series(norm)
        ok = (
            norm.str.startswith("http") & (norm.str.len() <= MAX_URL_LEN)
            & (host != "")
        ).to_numpy(dtype=bool)
        out = df.loc[ok].assign(url_norm=norm[ok], host=host[ok])
        out["url_hash"] = hashes(out["url_norm"])
        out["priority"] = out["priority"].astype(float)
        return out[self._insertion_allowed(out)]

    def _insertion_allowed(self, df: pd.DataFrame) -> np.ndarray:
        keep = np.ones(len(df), dtype=bool)
        for host, hs in self.hosts.items():
            if hs[4]:
                for i in np.flatnonzero((df["host"] == host).to_numpy()):
                    keep[i] = robots_allowed(_path_of(df["url_norm"].iat[i]), hs[4])
        return keep

    @staticmethod
    def _dedup(df: pd.DataFrame) -> pd.DataFrame:
        return df.sort_values(DEDUP, kind="stable").drop_duplicates(
            "url_hash", keep="first"
        )

    # -- the engine's public calls ---------------------------------------
    def init_state(self, seeds: pd.DataFrame) -> int:
        self.frontier = self._dedup(self._items(seeds.assign(
            priority=seeds["priority"].fillna(0.0), depth=0,
            discovered_batch=0, attempt=0,
        )))
        return len(self.frontier)

    def mark_seen(self, url_hash: np.ndarray) -> tuple[int, int]:
        self.seen |= set(int(h) for h in url_hash)
        self.frontier = self.frontier[~self.frontier["url_hash"].isin(self.seen)]
        return len(self.seen), len(self.frontier)

    def _host(self, host: str) -> list:
        return self.hosts.get(host) or [0.0, self.budget, self.budget, 0.0, []]

    def select(self) -> tuple[pd.DataFrame, dict]:
        """The next round's schedule in rank order, and each candidate
        host's available tokens."""
        cand = self.frontier[~self.frontier["url_hash"].isin(self.seen)]
        avail, budget = {}, {}
        for host in cand["host"].unique():
            tokens, cap, refill, delay, _ = self._host(host)
            avail[host] = min(cap, tokens + refill)
            delay_cap = math.floor(ROUND_SECONDS / delay) if delay > 0 else math.inf
            budget[host] = max(0, min(math.floor(avail[host]), delay_cap))
        cand = cand[self._insertion_allowed(cand)].sort_values(ORDER, kind="stable")
        pos = cand.groupby("host", sort=False).cumcount().to_numpy()
        cap = cand["host"].map(budget).to_numpy()
        return cand[pos < cap].sort_values(ORDER, kind="stable"), avail

    def crawl_round(self) -> dict:
        self.batch_id += 1
        sched, avail = self.select()
        html = self.pages["html"].reindex(sched["url_hash"].to_numpy())
        fetched = html.notna().to_numpy()
        done = fetched | (sched["attempt"].to_numpy() + 1 >= MAX_ATTEMPTS)
        requeued = sched[~done].assign(
            discovered_batch=self.batch_id, attempt=sched["attempt"][~done] + 1
        )
        hit = sched[fetched]
        text = self.pages["text"].reindex(hit["url_hash"].to_numpy())
        parents = hit[hit["depth"].to_numpy() < MAX_DEPTH]
        links = extract_outlinks_series(
            pd.Series(self.pages["html"].reindex(parents["url_hash"].to_numpy()).to_numpy()),
            pd.Series(parents["url"].to_numpy()),
        )
        counts = links.map(len).to_numpy()
        discovered = self._items(pd.DataFrame({
            "url": np.concatenate([np.asarray(l, dtype=object) for l in links])
            if len(links) else np.array([], dtype=object),
            "priority": np.repeat(parents["priority"].to_numpy(), counts),
            "depth": np.repeat(parents["depth"].to_numpy() + 1, counts),
            "discovered_batch": self.batch_id,
            "attempt": 0,
        }))

        self.seen |= set(int(h) for h in sched["url_hash"][done])
        remaining = self.frontier[~self.frontier["url_hash"].isin(set(sched["url_hash"]))]
        merged = self._dedup(pd.concat([remaining, discovered, requeued], ignore_index=True))
        self.frontier = merged[~merged["url_hash"].isin(self.seen)]

        n_sched = sched["host"].value_counts().to_dict()
        for host in set(self.hosts) | set(n_sched):
            if host not in self.hosts:
                self.hosts[host] = [0.0, self.budget, self.budget, 0.0, []]
            hs = self.hosts[host]
            a = avail.get(host, min(hs[1], hs[0] + hs[2]))
            hs[0] = a - n_sched.get(host, 0)
        return {
            "scheduled": len(sched),
            "fetched": int(fetched.sum()),
            "missing": int((~fetched).sum()),
            "digest": schedule_digest(sched),
            "text_digest": text_digest(hit["url_hash"], text),
        }
