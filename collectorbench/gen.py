"""Seeded load generator for the collector-path benchmark.

Plain Python (no Spark): the orchestrator runs it before the measured
process starts, so rendering never lands in a timed window. The same
seed gives byte-identical chunk files and manifest.

Each workload is a list of *chunks*. A chunk is one file of requests
that the measured process publishes into the stream source directory
with one atomic rename. Next to the chunks the generator writes an
expected-output manifest: for every request line, the event key
(party, session, event id), whether the collector must publish it
(``kept``) and whether it must carry ``corrupt_event``.

Traffic dimensions, shared by both ingest workloads unless noted:

- parties drawn Zipf-skewed (exponent ``ZIPF_S``) from ``PARTIES``;
- user agents drawn Zipf-skewed (exponent ``UA_ZIPF_S``) from
  ``UA_VARIANTS`` distinct strings (eight browser/OS templates with
  varying versions and builds). The package parses user agents behind
  a 1000-entry LRU cache per Python worker; over this mix about half
  the look-ups miss it, so the parser itself stays on the hot path.
  The traced run reports the hit share
  (``functions.user_agent_cache_hit_share``);
- ``CHUNK_EVENTS`` events per chunk spanning ``CHUNK_SECONDS`` of event
  time, i.e. an event-time density of CHUNK_EVENTS / CHUNK_SECONDS
  events per second. The Avro sink rolls a file per second of event
  time, so this density (and the delayed events, each landing in an
  older second) sets the file count. A chunk is large because a
  micro-batch has a fixed cost of seconds (planning, Python task
  start-up, state store commit, a second micro-batch for watermark
  eviction) whatever its size; at these sizes the per-event work of
  decode, dedup, mapping and encode is a visible share of it
  (``trace.prefix_share``). JSON chunks are larger because their fixed
  cost varied more from run to run: at 6000 events the chunk median's
  spread over ten seeds was 0.18-0.21, at 10000 it was 0.09-0.13;
- client times out of order: each chunk is shuffled, and a
  ``DELAYED_SHARE`` of events arrive up to ``MAX_DELAY_S`` late, in a
  later chunk. MAX_DELAY_S stays below the pipeline's 10-minute
  watermark, so no event is ever late enough to be dropped;
- ``INCOMPLETE_SHARE`` of requests miss a required field and are
  dropped by the decoder.

Browser only (``GET /csc-event`` access-log lines):

- ``RESEND_SHARE`` of lines re-send an earlier request verbatim (same
  ids); the dedup stage must drop them;
- ``CORRUPT_P`` (1 in 13) of events carry a wrong ``x=`` checksum; the
  collector keeps them and flags them corrupt;
- ``MINCODE_SHARE`` of events carry mincode ``u=`` parameters. Each
  payload holds a position and a price drawn per event, so nearly
  every payload is distinct and the decoder's cache rarely hits
  (``functions.mincode_cache_hit_share``).

JSON only (POST bodies, one JSON object per line): no re-sends and no
checksum, because that mapping has no dedup stage.

The checksum is computed with this module's own MurmurHash3 (numpy,
batched), independent of the package's implementation, so a bug in
the package's checksum shows as mis-flagged events.
"""

from __future__ import annotations

import bisect
import functools
import json
import os
import random
from datetime import datetime, timezone

import numpy as np

WORKLOADS = ("ingest_browser_avro", "ingest_json_kafka")

PARTIES = 5000
ZIPF_S = 1.1
UA_VARIANTS = 50_000
UA_ZIPF_S = 1.0
CHUNK_EVENTS = {"ingest_browser_avro": 6_000, "ingest_json_kafka": 10_000}
CHUNK_SECONDS = 5
DELAYED_SHARE = 0.002
MAX_DELAY_S = 300
INCOMPLETE_SHARE = 0.01
RESEND_SHARE = 0.05
CORRUPT_P = 1 / 13
MINCODE_SHARE = 0.3
NEW_SESSION_P = 0.05

#: event time of chunk 0; fixed so that the same seed gives the same bytes
EPOCH = datetime(2026, 1, 5, 8, 0, 0, tzinfo=timezone.utc)

_B36 = "0123456789abcdefghijklmnopqrstuvwxyz"

#: user-agent templates: {a} a major version, {b} a build, {c} a patch
#: and {o} an OS version, all derived from the variant's rank
UA_TEMPLATES = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/{a}.0.{b}.{c} Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_{o}) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/{o}.{c}.{b} Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:{a}.0) Gecko/2010{b:04d} Firefox/{a}.{c}",
    "Mozilla/5.0 (iPhone; CPU iPhone OS {o}_{c} like Mac OS X) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/{o}.{c} Mobile/15E{b} Safari/604.1",
    "Mozilla/5.0 (Linux; Android {o}; Pixel {c}) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/{a}.0.{b}.{c} Mobile Safari/537.36",
    "Mozilla/5.0 (iPad; CPU OS {o}_{c} like Mac OS X) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/{o}.{c} Mobile/15E{b} Safari/604.1",
    "Mozilla/5.0 (compatible; Googlebot/2.{c}; +http://www.google.com/bot.html?v={b})",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/{a}.0.0.0 Safari/537.36 Edg/{a}.0.{b}.{c}",
)
EVENT_TYPES = ("pageView", "pageView", "pageView", "click", "addToCart", "purchase")
SECTIONS = ("home", "catalog", "product", "cart", "checkout", "search", "account")


def user_agent(rank: int) -> str:
    """The user agent of popularity rank ``rank`` (0 is the most
    common). A function of the rank alone, so every seed draws from the
    same ``UA_VARIANTS`` strings; no two ranks give the same string."""
    t = UA_TEMPLATES[rank % len(UA_TEMPLATES)]
    v = rank // len(UA_TEMPLATES)
    return t.format(a=100 + v % 30, b=v // 10, c=v % 10, o=10 + (v // 10) % 8)


def _zipf_cdf(n: int, s: float) -> list[float]:
    return list(np.cumsum([1.0 / (i + 1) ** s for i in range(n)]))


_QUOTE = {
    i: f"%{i:02X}" for i in range(128)
    if not (chr(i).isascii() and (chr(i).isalnum() or chr(i) in "_.~-"))
}


def _quote(v: str) -> str:
    """``urllib.parse.quote(v, safe="")`` for an ASCII string."""
    return v.translate(_QUOTE)


def b36(n: int) -> str:
    """Java ``Long.toString(n, 36)``."""
    if n == 0:
        return "0"
    neg = n < 0
    n = -n if neg else n
    out = []
    while n:
        n, r = divmod(n, 36)
        out.append(_B36[r])
    return ("-" if neg else "") + "".join(reversed(out))


_b36_small = functools.lru_cache(maxsize=None)(b36)


def murmur3_32_batch(strings: list[str]) -> list[int]:
    """Signed MurmurHash3 x86_32 (seed 0) of each string's UTF-8 bytes,
    vectorised over the batch: rows are padded to one width and a row
    stops taking blocks once its own length is used up."""
    data = [s.encode("utf-8") for s in strings]
    n = len(data)
    if n == 0:
        return []
    lengths = np.array([len(d) for d in data], dtype=np.int64)
    width = int(-(-lengths.max() // 4) * 4) + 4
    buf = np.zeros((n, width), dtype=np.uint8)
    for i, d in enumerate(data):
        buf[i, : len(d)] = np.frombuffer(d, dtype=np.uint8)
    words = buf.view("<u4").astype(np.uint64)
    m32 = np.uint64(0xFFFFFFFF)
    c1, c2 = np.uint64(0xCC9E2D51), np.uint64(0x1B873593)

    def rotl(x, r):
        return ((x << np.uint64(r)) | (x >> np.uint64(32 - r))) & m32

    def mix_k(k):
        k = (k * c1) & m32
        k = rotl(k, 15)
        return (k * c2) & m32

    h = np.zeros(n, dtype=np.uint64)
    nblocks = lengths // 4
    for b in range(int(nblocks.max())):
        active = nblocks > b
        k = mix_k(words[:, b])
        hb = h ^ k
        hb = rotl(hb, 13)
        hb = (hb * np.uint64(5) + np.uint64(0xE6546B64)) & m32
        h = np.where(active, hb, h)
    rem = lengths % 4
    tail = words[np.arange(n), nblocks]
    # bytes beyond the string are zero padding, so the tail word holds
    # exactly the 1-3 remaining bytes
    h = np.where(rem > 0, h ^ mix_k(tail & m32), h)
    h ^= lengths.astype(np.uint64)
    h ^= h >> np.uint64(16)
    h = (h * np.uint64(0x85EBCA6B)) & m32
    h ^= h >> np.uint64(13)
    h = (h * np.uint64(0xC2B2AE35)) & m32
    h ^= h >> np.uint64(16)
    return [int(v) - (1 << 32) if v >= (1 << 31) else int(v) for v in h]


def canonical(params: list[tuple[str, str]]) -> str:
    """The browser checksum's canonical string: decoded params sorted
    (stably) by key, ``k=`` once per key, ``,`` after every value,
    ``;`` closing each key group."""
    out: list[str] = []
    last = None
    for k, v in sorted(params, key=lambda kv: kv[0]):
        if k != last:
            if last is not None:
                out.append(";")
            out.append(k + "=")
            last = k
        out.append(v + ",")
    if last is not None:
        out.append(";")
    return "".join(out)


def mincode(params: dict) -> str:
    """divolte.js mincode of a flat object of strings and ints."""

    def esc(s: str) -> str:
        return s.replace("~", "~~").replace("!", "~!")

    parts = []
    for k, v in params.items():
        if isinstance(v, int):
            parts.append(f"d{esc(k)}!{b36(v)}!")
        else:
            parts.append(f"s{esc(k)}!{esc(v)}!")
    return "(" + "".join(parts) + ")"


class _Traffic:
    """Per-seed party/session state shared by both renderers."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.cum = _zipf_cdf(PARTIES, ZIPF_S)
        self.ua_cum = _zipf_cdf(UA_VARIANTS, UA_ZIPF_S)
        self.seen: set[int] = set()
        self.party_b36: dict[int, str] = {}
        self.session: dict[int, int] = {}
        self.seq = 0

    def party(self) -> int:
        return bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])

    def next_event(self, chunk: int) -> dict:
        """One event with its identity and client time (ms)."""
        rng = self.rng
        p = self.party()
        new_party = p not in self.seen
        self.seen.add(p)
        new_session = new_party or rng.random() < NEW_SESSION_P
        if new_session:
            self.session[p] = self.session.get(p, -1) + 1
        ms = int((EPOCH.timestamp() + chunk * CHUNK_SECONDS) * 1000) + rng.randrange(
            CHUNK_SECONDS * 1000
        )
        self.seq += 1
        pb = self.party_b36.get(p) or self.party_b36.setdefault(p, b36(1_700_000_000_000 + p))
        return {
            "party": f"0:{pb}:p{p}",
            "session": f"0:{pb}:s{p}x{self.session[p]}",
            "event_id": f"e{chunk:05d}x{self.seq}",
            "page_view": f"pv{self.seq}",
            "new_party": new_party,
            "new_session": new_session,
            "ms": ms,
            "type": rng.choice(EVENT_TYPES),
            "section": rng.choice(SECTIONS),
            "item": rng.randrange(500),
            "ua": user_agent(
                bisect.bisect_left(self.ua_cum, rng.random() * self.ua_cum[-1])
            ),
            "incomplete": rng.random() < INCOMPLETE_SHARE,
        }

    def delay_chunks(self) -> int:
        """0 for an in-order event, else how many chunks later it arrives."""
        if self.rng.random() >= DELAYED_SHARE:
            return 0
        delay_s = self.rng.uniform(CHUNK_SECONDS, MAX_DELAY_S)
        return max(1, int(delay_s // CHUNK_SECONDS))


def _iso(ms: int) -> str:
    t = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def _browser_line(ev: dict, rng: random.Random) -> tuple[str, str, bool]:
    """Render one ``GET /csc-event`` request without its checksum;
    returns (query string, remote host, corrupt)."""
    loc = (
        f"https://shop.example.com/{ev['section']}/item-{ev['item']}"
        f"?ref={ev['type']}&q=a+b#top"
    )
    params = [
        ("p", ev["party"]),
        ("s", ev["session"]),
        ("v", ev["page_view"]),
        ("e", ev["event_id"]),
        ("c", b36(ev["ms"])),
        ("n", "t" if ev["new_party"] else "f"),
        ("f", "t" if ev["new_session"] else "f"),
        ("l", loc),
        ("r", "https://www.example.org/search?q=shop"),
        ("t", ev["type"]),
        ("w", _b36_small(1280 + ev["item"] % 640)),
        ("h", _b36_small(720 + ev["item"] % 360)),
        ("i", _b36_small(1920)),
        ("j", _b36_small(1080)),
        ("k", _b36_small(2)),
    ]
    if rng.random() < MINCODE_SHARE:
        params.append(
            ("u", mincode({"item": ev["item"], "section": ev["section"],
                           "rank": ev["item"] % 7, "pos": rng.randrange(1000),
                           "price": rng.randrange(100_000)}))
        )
    if ev["incomplete"]:
        params = [kv for kv in params if kv[0] != "e"]
    corrupt = rng.random() < CORRUPT_P
    ev["_params"] = params
    ev["_corrupt"] = corrupt
    qs = "&".join(f"{k}={_quote(v)}" for k, v in params)
    host = f"10.{ev['item'] % 256}.{len(ev['party']) % 256}.7"
    return qs, host, corrupt


def _finish_browser_lines(pending: list[tuple]) -> list[str]:
    """Append the ``x=`` checksums (batched murmur) and format lines."""
    hashes = murmur3_32_batch([canonical(ev["_params"]) for ev, *_ in pending])
    lines = []
    for (ev, qs, host, corrupt), h in zip(pending, hashes):
        x = b36(h + 1 if corrupt else h)
        req = _iso(ev["ms"] + 40)
        lines.append(
            f'{req} {host} "GET /csc-event?{qs}&x={x} HTTP/1.1" "{ev["ua"]}"'
        )
    return lines


def _json_line(ev: dict, rng: random.Random) -> str:
    body = {
        "session_id": ev["session"],
        "event_id": ev["event_id"],
        "event_type": ev["type"],
        "is_new_party": ev["new_party"],
        "is_new_session": ev["new_session"],
        "client_timestamp_iso": _iso(ev["ms"]),
    }
    if rng.random() < MINCODE_SHARE:
        body["parameters"] = {"item": ev["item"], "section": ev["section"],
                              "pos": rng.randrange(1000), "price": rng.randrange(100_000)}
    if ev["incomplete"]:
        del body["event_id"]
    return json.dumps(
        {
            "party_id_param": ev["party"],
            "body": json.dumps(body, separators=(",", ":")),
            "request_time": _iso(ev["ms"] + 40),
        },
        separators=(",", ":"),
    )


def traffic(workload: str) -> dict:
    """The workload's traffic dimensions, for the run record."""
    dims = {
        "parties": PARTIES,
        "party_zipf_exponent": ZIPF_S,
        "user_agent_variants": UA_VARIANTS,
        "user_agent_zipf_exponent": UA_ZIPF_S,
        "events_per_chunk": CHUNK_EVENTS[workload],
        "event_time_per_chunk_s": CHUNK_SECONDS,
        "event_time_density_per_s": CHUNK_EVENTS[workload] / CHUNK_SECONDS,
        "delayed_share": DELAYED_SHARE,
        "max_delay_s": MAX_DELAY_S,
        "incomplete_share": INCOMPLETE_SHARE,
        "new_session_p": NEW_SESSION_P,
    }
    if workload == "ingest_browser_avro":
        dims.update(resend_share=RESEND_SHARE, corrupt_p=CORRUPT_P, mincode_share=MINCODE_SHARE)
    else:
        dims.update(parameters_share=MINCODE_SHARE)
    return dims


def generate(workload: str, seed: int, n_chunks: int, out_dir: str) -> dict:
    """Render ``n_chunks`` chunk files into ``out_dir`` and return the
    manifest (also written to ``out_dir/manifest.json``).

    Manifest shape: ``{"workload", "seed", "chunks": [{"file",
    "requests", "events": [[party, session, event_id, kept, corrupt],
    ...]}, ...]}`` with one ``events`` row per request line; rows with
    ``kept == 0`` must not reach the sink."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    browser = workload == "ingest_browser_avro"
    os.makedirs(out_dir, exist_ok=True)
    traffic = _Traffic(seed)
    rng = traffic.rng
    delayed: dict[int, list] = {}
    recent: list[list] = []  # browser: kept lines of the last two chunks, for re-sends
    chunks = []
    for c in range(n_chunks):
        fresh = []
        for _ in range(CHUNK_EVENTS[workload]):
            ev = traffic.next_event(c)
            d = traffic.delay_chunks()
            if d:
                delayed.setdefault(c + d, []).append(ev)
            else:
                fresh.append(ev)
        events = fresh + delayed.pop(c, [])
        rows: list[tuple[str, list]] = []
        if browser:
            rendered = [(ev, *_browser_line(ev, rng)) for ev in events]
            lines = _finish_browser_lines(rendered)
            for (ev, _, _, corrupt), line in zip(rendered, lines):
                key = [ev["party"], ev["session"], ev["event_id"]]
                rows.append((line, key + [0 if ev["incomplete"] else 1, int(corrupt)]))
            pool = [r for r in rows if r[1][3]] + [
                r for prev in recent for r in prev
            ]
            resends = []
            for _ in range(int(len(rows) * RESEND_SHARE)):
                line, row = rng.choice(pool)
                resends.append((line, row[:3] + [0, row[4]]))
            recent = [[r for r in rows if r[1][3]]] + recent[:1]
            rows.extend(resends)
            ext = "log"
        else:
            for ev in events:
                key = [ev["party"], ev["session"], ev["event_id"]]
                rows.append(
                    (_json_line(ev, rng), key + [0 if ev["incomplete"] else 1, 0])
                )
            ext = "json"
        rng.shuffle(rows)
        name = f"chunk-{c:05d}.{ext}"
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as fh:
            fh.write("".join(line + "\n" for line, _ in rows))
        chunks.append(
            {"file": name, "requests": len(rows), "events": [r for _, r in rows]}
        )
    manifest = {"workload": workload, "seed": seed, "chunks": chunks}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        fh.write(json.dumps(manifest, separators=(",", ":")))
    return manifest

