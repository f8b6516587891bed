"""Seeded landing-zone generator for the benchmark.

Writes RAW_NEWS / RAW_POSTS / RAW_BARS drops as parquet with pyarrow in
this process (no Spark), and keeps the exact answers the program must
give: rows each flow inserts, distinct urls a stream drain commits, and
the row count of every range and point read. The same seed and traffic
give byte-identical files.

Traffic dimensions (see ``Traffic``): within-day duplicate share, share
of keys already committed on earlier days, null and malformed-price
shares, text length, ticker count and minutes per day.
"""

from __future__ import annotations

import bisect
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

_UNIX = datetime(1970, 1, 1)
_EPOCH = datetime(2024, 1, 2)
_WORDS = (
    "market stock shares earnings guidance rally selloff analyst upgrade "
    "downgrade revenue margin outlook quarter investors volatility fed rates "
    "inflation bond yield tech chip energy retail bank growth value dividend"
).split()

NEWS_TYPE = pa.schema(
    [
        ("source", pa.struct([("id", pa.string()), ("name", pa.string())])),
        ("author", pa.string()),
        ("title", pa.string()),
        ("description", pa.string()),
        ("url", pa.string()),
        ("urlToImage", pa.string()),
        ("publishedAt", pa.string()),
        ("content", pa.string()),
    ]
)
POSTS_TYPE = pa.schema(
    [
        ("reddit_id", pa.string()),
        ("subreddit", pa.string()),
        ("author", pa.string()),
        ("title", pa.string()),
        ("selftext", pa.string()),
        ("score", pa.int64()),
        ("num_comments", pa.int64()),
        ("is_text_post", pa.bool_()),
        ("url", pa.string()),
        ("link_flair_text", pa.string()),
        ("upvote_ratio", pa.float64()),
        ("permalink", pa.string()),
        ("published_at", pa.int64()),
        ("article_headline", pa.string()),
        ("article_author", pa.string()),
        ("article_publisher", pa.string()),
        ("article_content", pa.string()),
        ("article_published_at", pa.string()),
        ("article_category", pa.list_(pa.string())),
    ]
)
BARS_TYPE = pa.schema(
    [(c, pa.string()) for c in
     ("symbol", "timestamp", "open", "high", "low", "close", "vwap", "volume", "trade_count")]
)


@dataclass(frozen=True)
class Traffic:
    """Shape of one day's landing drops."""

    articles: int = 1200          # raw news rows per day
    posts: int = 1200             # raw post rows per day
    dup_share: float = 0.10       # rows repeating a key already in the same drop
    carry_share: float = 0.05     # rows re-sending a key committed on an earlier day
    null_share: float = 0.06      # rows with nulls the pipeline fills or drops
    malformed_share: float = 0.04  # bar price/volume strings that do not parse
    text_words: int = 60          # words per article body
    tickers: int = 6
    minutes: int = 240            # bar minutes per ticker per day
    unknown_share: float = 0.02   # bar rows for tickers with no company row


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


class Landing:
    """One seeded landing zone under ``root`` plus the committed-key state
    a correct program ends up with after ingesting every drop written so
    far (the generator is the reference implementation of the flows'
    insert semantics)."""

    def __init__(self, root: str, seed: int, traffic: Traffic = Traffic()):
        self.root = root
        self.seed = seed
        self.t = traffic
        self.rng = random.Random(seed)
        self.tickers = [f"T{i:02d}" for i in range(traffic.tickers)]
        self.urls: list[str] = []          # committed article urls, in commit order
        self._url_set: set[str] = set()
        self.reddit_ids: list[str] = []    # committed post ids
        self._rid_set: set[str] = set()
        self._post_rows: dict[str, dict] = {}
        self.bar_keys: dict[str, list[int]] = {t: [] for t in self.tickers}  # sorted minute ordinals
        self._news_rows: dict[str, dict] = {}
        self._n = 0

    # ------------------------------------------------------------ helpers
    def companies(self) -> list[tuple[str, str]]:
        """(id, ticker) rows of the companies dimension."""
        return [(f"co-{t}", t) for t in self.tickers]

    def _text(self, words: int) -> str:
        r = self.rng
        body = " ".join(r.choice(_WORDS) for _ in range(words))
        return (
            f"<p>{body.capitalize()}!</p> Read more at https://n.example/{r.randrange(10**6)} "
            f"&amp; <b>{r.choice(_WORDS)}</b> [+{r.randrange(100, 5000)} chars]"
        )

    def _uid(self, prefix: str) -> str:
        self._n += 1
        return f"{prefix}{self.seed}-{self._n}"

    # --------------------------------------------------------------- news
    def _news_row(self, url: str, ts: datetime) -> dict:
        r, t = self.rng, self.t
        row = {
            "source": {"id": None, "name": r.choice(("Reuters", "AP", "Bloomberg"))},
            "author": None if r.random() < t.null_share else f"author{r.randrange(50)}",
            "title": f"{r.choice(_WORDS).title()} {r.choice(_WORDS)} {r.randrange(1000)}",
            "description": f"{r.choice(_WORDS)} {r.choice(_WORDS)}",
            "url": url,
            "urlToImage": None,
            "publishedAt": ts.strftime("%Y-%m-%dT%H:%M:%S"),
            "content": self._text(max(1, int(r.gauss(t.text_words, t.text_words / 4)))),
        }
        u = r.random()
        if u < t.null_share / 2:
            row["content"] = None  # falls back to description
        elif u < t.null_share:
            row["content"] = row["description"] = row["title"] = None  # dropped
        return row

    def news_rows(self, n: int, start: datetime, span_s: int, carry: list[str]) -> tuple[list[dict], set[str]]:
        """``n`` raw articles published in [start, start+span_s): fresh
        urls, within-drop duplicates, and re-sent ``carry`` urls. Returns
        the rows and the urls a correct clean+merge inserts."""
        r, t = self.rng, self.t
        rows: list[dict] = []
        fresh: dict[str, bool] = {}
        for _ in range(n):
            u = r.random()
            if u < t.carry_share and carry:
                url = r.choice(carry)
                row = dict(self._news_rows[url])
            elif u < t.carry_share + t.dup_share and rows:
                row = dict(r.choice(rows))  # exact re-delivery
            else:
                url = self._uid("https://news.example/a/")
                row = self._news_row(url, start + timedelta(seconds=r.randrange(span_s)))
                self._news_rows[url] = row
            rows.append(row)
            kept = any(row[c] is not None for c in ("content", "description", "title"))
            if kept and row["url"] not in self._url_set:
                fresh[row["url"]] = True
        return rows, set(fresh)

    # -------------------------------------------------------------- posts
    def _post_row(self, rid: str, ts: int) -> dict:
        r, t = self.rng, self.t
        text_post = r.random() < 0.6
        row = {
            "reddit_id": rid,
            "subreddit": None if r.random() < t.null_share / 2 else r.choice(("stocks", "investing", "wsb")),
            "author": None if r.random() < t.null_share else f"user{r.randrange(500)}",
            "title": f"{r.choice(_WORDS)} {r.choice(_WORDS)}?",
            "selftext": None if r.random() < t.null_share else self._text(t.text_words // 2),
            "score": r.randrange(5000),
            "num_comments": r.randrange(300),
            "is_text_post": text_post,
            "url": None if text_post else f"https://n.example/l/{rid}",
            "link_flair_text": r.choice(("DD", "News", "Meme", None)),
            "upvote_ratio": round(r.random(), 3),
            "permalink": f"/r/x/comments/{rid}",
            "published_at": ts,
            "article_headline": None,
            "article_author": None,
            "article_publisher": None,
            "article_content": None,
            "article_published_at": None,
            "article_category": [r.choice(_WORDS), r.choice(_WORDS)],
        }
        if not text_post and r.random() >= t.null_share:
            row["article_headline"] = row["title"]
            row["article_published_at"] = (_UNIX + timedelta(seconds=ts)).strftime("%Y-%m-%dT%H:%M:%S")
        return row

    @staticmethod
    def _post_kept(row: dict) -> bool:
        if row["subreddit"] is None:
            return False
        return row["is_text_post"] or bool(row["article_published_at"])

    # --------------------------------------------------------------- days
    def day(self, d: int) -> dict[str, int]:
        """Write day ``d``'s news, posts and bars drops under
        ``day_path(d)``; return the rows each flow must insert."""
        base = _EPOCH + timedelta(days=d)
        return {
            "news": self._news_day(d, base),
            "posts": self._posts_day(d, base),
            "bars": self._bars_day(d),
        }

    def _news_day(self, d: int, base: datetime) -> int:
        t = self.t
        rows, fresh = self.news_rows(
            t.articles, base + timedelta(hours=6), 12 * 3600, self.urls
        )
        _write(pa.Table.from_pylist(rows, NEWS_TYPE), os.path.join(self.day_path(d), "news", "part-0.parquet"))
        for row in rows:
            u = row["url"]
            if u in fresh and u not in self._url_set:
                self._url_set.add(u)
                self.urls.append(u)
        return len(fresh)

    def _posts_day(self, d: int, base: datetime) -> int:
        t, r = self.t, self.rng
        prow: list[dict] = []
        new_ids: set[str] = set()
        t0 = int((base + timedelta(hours=6) - _UNIX).total_seconds())
        for _ in range(t.posts):
            u = r.random()
            if u < t.carry_share and self.reddit_ids:
                row = dict(self._post_rows[r.choice(self.reddit_ids)])
            elif u < t.carry_share + t.dup_share and prow:
                row = dict(r.choice(prow))
            else:
                rid = self._uid("t3_")
                row = self._post_row(rid, t0 + r.randrange(12 * 3600))
                self._post_rows[rid] = row
            prow.append(row)
            if self._post_kept(row) and row["reddit_id"] not in self._rid_set:
                new_ids.add(row["reddit_id"])
        _write(pa.Table.from_pylist(prow, POSTS_TYPE), os.path.join(self.day_path(d), "posts", "part-0.parquet"))
        for rid in sorted(new_ids):
            self._rid_set.add(rid)
            self.reddit_ids.append(rid)
        return len(new_ids)

    def _bars_day(self, d: int) -> int:
        # Every ticker every minute, minute 0 always parses so the
        # per-symbol gap fill always finds a value to fill from.
        t, r = self.t, self.rng
        brow: list[dict] = []
        new_bars = 0
        minutes = t.minutes
        day0 = d * 1440 + 9 * 60 + 30  # minute ordinal of the 09:30 open
        for tk in self.tickers:
            keys = self.bar_keys[tk]
            fresh_min = [day0 + m for m in range(minutes)]
            carried = keys[-max(1, int(minutes * t.carry_share)):] if keys else []
            dups = r.sample(fresh_min, int(minutes * t.dup_share))
            for k in carried + fresh_min + dups:
                brow.append(self._bar_row(tk, k, clean=(k == day0)))
            new = [k for k in fresh_min if not keys or k > keys[-1]]
            keys.extend(new)
            new_bars += len(new)
        for _ in range(int(len(brow) * t.unknown_share)):
            brow.append(self._bar_row(f"U{r.randrange(10):02d}", day0 + r.randrange(minutes), clean=True))
        r.shuffle(brow)
        _write(pa.Table.from_pylist(brow, BARS_TYPE), os.path.join(self.day_path(d), "bars", "part-0.parquet"))
        return new_bars

    def _bar_row(self, ticker: str, minute: int, clean: bool) -> dict:
        r, t = self.rng, self.t
        px = 50 + (minute % 997) / 10 + r.random()

        def num(v: float) -> str | None:
            if not clean and r.random() < t.malformed_share:
                return r.choice(("N/A", "", "1.2.3", None))
            return f"{v:.4f}"

        return {
            "symbol": ticker,
            "timestamp": minute_ts(minute).strftime("%Y-%m-%d %H:%M:%S"),
            "open": num(px),
            "high": num(px + 0.5),
            "low": num(px - 0.5),
            "close": num(px + 0.1),
            "vwap": num(px + 0.05),
            "volume": num(1000 + r.randrange(9000)) if clean or r.random() > t.malformed_share else "x",
            "trade_count": str(r.randrange(1, 200)),
        }

    def day_path(self, d: int) -> str:
        return os.path.join(self.root, f"day{d:04d}")

    # ------------------------------------------------------------- stream
    def stream_backlog(self, path: str, drops: int, rows: int) -> list[str]:
        """``drops`` raw-news files under ``path``, event time rising 30 s
        per drop (so no first delivery is ever behind a 10-minute
        watermark), with within-drop duplicates and re-sends of earlier
        drops' urls. Returns the distinct urls a drain commits."""
        seen: list[str] = []
        distinct: set[str] = set()
        for k in range(drops):
            rows_k, _ = self.news_rows(rows, _EPOCH + timedelta(seconds=30 * k), 30, seen)
            f = os.path.join(path, f"drop-{k:05d}.parquet")
            _write(pa.Table.from_pylist(rows_k, NEWS_TYPE), f)
            os.utime(f, (1_700_000_000 + k, 1_700_000_000 + k))  # file source picks drops in order
            for row in rows_k:
                if row["url"] not in distinct:
                    distinct.add(row["url"])
                    seen.append(row["url"])
        return seen

    # -------------------------------------------------------------- reads
    def range_count(self, ticker: str, lo_minute: int, hi_minute: int) -> int:
        keys = self.bar_keys[ticker]
        return bisect.bisect_right(keys, hi_minute) - bisect.bisect_left(keys, lo_minute)

    def point_plan(self, urls: list[str], n: int) -> list[tuple]:
        """``n`` point reads ("point", url, rows) of a table holding
        exactly ``urls``; every second one asks for an absent url."""
        return [
            ("point", self._uid("https://news.example/absent/"), 0) if i % 2 else ("point", self.rng.choice(urls), 1)
            for i in range(n)
        ]

    def read_plan(self, n: int, window: int = 60) -> list[tuple]:
        """``n`` alternating reads with their answers:
        ("range", ticker, lo_minute, hi_minute, rows) over ``window``
        minutes of one ticker's contiguous bars, and ("point", url, rows);
        every second point read asks for an absent url. Every range read
        returns as many rows as the others."""
        r = self.rng
        starts = {
            tk: [k for i, k in enumerate(keys[:-window]) if keys[i + window] - k == window]
            for tk, keys in self.bar_keys.items()
        }
        plan: list[tuple] = []
        for i in range(n):
            if i % 2 == 0:
                tk = r.choice(self.tickers)
                lo = r.choice(starts[tk])
                hi = lo + window
                plan.append(("range", tk, lo, hi, self.range_count(tk, lo, hi)))
            elif i % 4 == 3:
                plan.append(("point", self._uid("https://news.example/absent/"), 0))
            else:
                plan.append(("point", r.choice(self.urls), 1))
        return plan


def minute_ts(minute: int) -> datetime:
    """Minute ordinal (minutes since the first trading day) to a naive
    UTC timestamp."""
    return _EPOCH + timedelta(minutes=minute)
