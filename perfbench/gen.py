"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed renders
byte-identical inputs.  Nothing in this module imports Spark or the
package under test, so rendering cannot be sped up by a change to the
program; the workloads render outside every timed span.

Traffic knobs (shared by both workloads).  The values are assumptions
chosen to exercise the program's caches and verdict paths, not
measurements of a real site:

- parties are drawn Zipf(``PARTY_ZIPF_A``) from ``N_PARTIES`` ids, so a
  few parties emit most events (the skew the dedup state and the Kafka
  partitioner see);
- ``u=`` payloads come Zipf from ``N_PAYLOADS`` templates (a working set
  far below the decoder's 65 536-entry LRU) plus a ``UNIQUE_PAYLOAD``
  share of one-off payloads;
- user agents come Zipf from ``N_AGENTS`` strings (just above the
  1 000-entry classifier LRU, so its tail evicts) plus a
  ``UNIQUE_AGENT`` share of one-off strings;
- ``CORRUPT`` of browser events have a param tampered after the
  checksum was computed (kept, flagged corrupt), ``INCOMPLETE`` lack a
  required param (dropped), ``RESEND`` repeat an earlier request
  verbatim (removed by dedup).

The Python workers outlive a pass and keep their caches, so the wire
logs carry the pass number in every one-off payload and agent
(:class:`WireLogs`): the one-off tail misses the caches on every pass,
while the templates stay warm.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
from urllib.parse import quote

PARTY_ZIPF_A = 1.1
N_PARTIES = 5_000
N_PAYLOADS = 4_096
UNIQUE_PAYLOAD = 0.05
N_AGENTS = 1_200
UNIQUE_AGENT = 0.02
CORRUPT = 0.01
INCOMPLETE = 0.03
RESEND = 0.02

#: first event time of every workload: 2024-03-01T00:00:00Z
EPOCH_MS = 1_709_251_200_000

_B36 = "0123456789abcdefghijklmnopqrstuvwxyz"
_EVENT_TYPES = ["pageView", "click", "scroll", "addToCart", "purchase"]
_PAGES = ["home", "search", "product", "cart", "checkout", "account", "help"]
_BROWSERS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/{v}.0.{b}.{p} Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_{p}) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/{v}.{b} Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:{v}.0) Gecko/20100101 Firefox/{v}.{b}",
    "Mozilla/5.0 (iPhone; CPU iPhone OS {v}_{b} like Mac OS X) "
    "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/{v}.{b} Mobile/15E148 "
    "Safari/604.1",
    "Mozilla/5.0 (Linux; Android {v}; SM-G{p}) AppleWebKit/537.36 (KHTML, "
    "like Gecko) Chrome/{v}.0.{b}.{p} Mobile Safari/537.36",
    "Mozilla/5.0 (compatible; Examplebot/{v}.{b}; +http://bot.example/{p})",
]


def base36(n: int) -> str:
    """Lower-case base36 with a leading '-' for negatives (the wire's
    encoding of the signed checksum and of epoch millis)."""
    if n == 0:
        return "0"
    sign = "-" if n < 0 else ""
    n = abs(n)
    out = []
    while n:
        n, r = divmod(n, 36)
        out.append(_B36[r])
    return sign + "".join(reversed(out))


def murmur3_32_signed(data: bytes) -> int:
    """MurmurHash3 x86_32, seed 0, as a signed int (the checksum the
    browser client computes).  Kept here so the generator never calls
    the program it feeds."""
    c1, c2, m = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF
    h = 0
    n = len(data)
    nb = n >> 2
    for i in range(nb):
        k = int.from_bytes(data[4 * i : 4 * i + 4], "little")
        k = (k * c1) & m
        k = ((k << 15) | (k >> 17)) & m
        k = (k * c2) & m
        h ^= k
        h = ((h << 13) | (h >> 19)) & m
        h = (h * 5 + 0xE6546B64) & m
    tail = data[nb * 4 :]
    k = 0
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if tail:
        k ^= tail[0]
        k = (k * c1) & m
        k = ((k << 15) | (k >> 17)) & m
        k = (k * c2) & m
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _uri_component(s: str) -> str:
    # JavaScript encodeURIComponent: what divolte.js puts on the wire
    return quote(s, safe="!'()*-._~")


def _zipf_sampler(rng: random.Random, n: int, a: float):
    cum = list(itertools.accumulate(1.0 / (i + 1) ** a for i in range(n)))
    total = cum[-1]
    return lambda: bisect.bisect_left(cum, rng.random() * total)


def _ident(ts_ms: int, tag: str) -> str:
    return f"0:{base36(ts_ms)}:{tag}"


def _mincode(fields: dict) -> str:
    """Mincode object with string and integer members (divolte.js)."""
    out = ["("]
    for k, v in fields.items():
        if isinstance(v, int):
            out.append(f"d{k}!{base36(v)}!")
        else:
            out.append(f"s{k}!{v}!")
    out.append(")")
    return "".join(out)


class _Traffic:
    """Shared party / payload / agent vocabularies for one seed."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.party = _zipf_sampler(rng, N_PARTIES, PARTY_ZIPF_A)
        self.payload_ix = _zipf_sampler(rng, N_PAYLOADS, 1.0)
        self.agent_ix = _zipf_sampler(rng, N_AGENTS, 1.0)
        self.party_tags = [
            "".join(rng.choices(_B36, k=12)) for _ in range(N_PARTIES)
        ]
        self.payloads = [
            {"pg": rng.choice(_PAGES), "item": rng.randrange(100_000)}
            for _ in range(N_PAYLOADS)
        ]
        self.agents = [self._agent() for _ in range(N_AGENTS)]
        self.unique = 0

    def _agent(self) -> str:
        tpl = self.rng.choice(_BROWSERS)
        return tpl.format(
            v=self.rng.randrange(60, 130),
            b=self.rng.randrange(0, 9999),
            p=self.rng.randrange(0, 999),
        )

    def payload(self) -> dict:
        """A payload template, or a one-off payload carrying a ``ref``."""
        if self.rng.random() < UNIQUE_PAYLOAD:
            self.unique += 1
            return {"pg": "q", "item": self.unique, "ref": self.unique}
        return self.payloads[self.payload_ix()]

    def agent(self) -> tuple[str, int | None]:
        """A user agent and, for a one-off agent, its number."""
        if self.rng.random() < UNIQUE_AGENT:
            self.unique += 1
            return self._agent(), self.unique
        return self.agents[self.agent_ix()], None


def _checksum(pairs: list[tuple[str, str]]) -> str:
    """The client's ``x=`` value over the decoded (key, value) pairs:
    keys sorted stably, ``k=v,`` per value, ``;`` per key group."""
    out = []
    last = None
    for k, v in sorted(pairs, key=lambda kv: kv[0]):
        if k != last:
            if last is not None:
                out.append(";")
            out.append(k + "=")
            last = k
        out.append(v + ",")
    if last is not None:
        out.append(";")
    return base36(murmur3_32_signed("".join(out).encode("utf-8")))


class WireLogs:
    """A seeded set of browser access logs, written once per pass.

    Every draw happens here, so every pass has the same requests in the
    same files and the same expected output.  Only the one-off tail
    differs: its ``u=`` payloads and user agents carry the pass number,
    so a worker that decoded the previous pass finds none of them in its
    caches.  Lines without a one-off value are rendered once.

    ``expected`` is what the pipeline must publish, ``{event_id:
    corrupt_flag}`` over every complete, de-duplicated event;
    ``counts`` are the requests planted.

    Event time advances ``events_per_second`` events per second of
    client time (``write_avro_files`` rolls one file per second of
    event time, so this fixes the files written per pass at about
    ``n_events / events_per_second``).  Lines are dealt round-robin
    into ``n_files`` files, one input partition each.
    """

    def __init__(self, seed: int, n_events: int, n_files: int, events_per_second: int):
        rng = random.Random(seed)
        traffic = _Traffic(rng)
        self.n_files = n_files
        self.expected: dict[str, bool] = {}
        self.counts = {"lines": 0, "corrupt": 0, "incomplete": 0, "resend": 0,
                       "one_off_payload": 0, "one_off_agent": 0}
        #: per line: the finished line, or a request with a one-off value
        self.lines: list = []
        sent: list[int] = []
        session_start: dict[int, int] = {}
        for i in range(n_events):
            ts = EPOCH_MS + (i * 1000) // events_per_second + rng.randrange(0, 1000 // events_per_second + 1)
            if sent and rng.random() < RESEND:
                self.lines.append(self.lines[sent[rng.randrange(len(sent))]])
                self.counts["resend"] += 1
            else:
                req = _browser_request(rng, traffic, ts, i, session_start, self.counts)
                if req["eid"] is not None:
                    self.expected[req["eid"]] = req["corrupt"]
                one_off = req["payload"].get("ref") is not None or req["agent_n"] is not None
                self.counts["one_off_payload"] += req["payload"].get("ref") is not None
                self.counts["one_off_agent"] += req["agent_n"] is not None
                sent.append(len(self.lines))
                self.lines.append(req if one_off else _request_line(req, 0))
            self.counts["lines"] += 1

    def write(self, out_dir: str, pass_ix: int) -> None:
        """Write pass ``pass_ix``'s logs into ``out_dir``."""
        os.makedirs(out_dir, exist_ok=True)
        handles = [open(os.path.join(out_dir, f"access-{i:02d}.log"), "w")
                   for i in range(self.n_files)]
        try:
            for i, line in enumerate(self.lines):
                if not isinstance(line, str):
                    line = _request_line(line, pass_ix)
                handles[i % self.n_files].write(line)
        finally:
            for fh in handles:
                fh.close()


def _browser_request(rng, traffic, ts, i, session_start, counts) -> dict:
    p = traffic.party()
    first = p not in session_start
    if first:
        session_start[p] = ts
    tag = traffic.party_tags[p]
    party = _ident(EPOCH_MS - 86_400_000, tag)
    session = _ident(session_start[p], tag + "s")
    pv = f"pv{base36(i)}x{tag[:4]}"
    eid = pv + "0"
    etype = rng.choice(_EVENT_TYPES)
    payload = traffic.payload()
    params = [
        ("p", party),
        ("s", session),
        ("v", pv),
        ("e", eid),
        ("c", base36(ts)),
        ("n", "t" if first else "f"),
        ("f", "t" if first else "f"),
        ("l", f"https://shop.example/{payload['pg']}?id={payload['item']}"),
        ("r", "https://search.example/?q=" + rng.choice(_PAGES)),
        ("w", base36(rng.choice([1280, 1366, 1440, 1920, 390]))),
        ("h", base36(rng.choice([720, 768, 900, 1080, 844]))),
        ("i", base36(1920)),
        ("j", base36(1080)),
        ("k", base36(rng.choice([1, 2, 3]))),
        ("t", etype),
    ]
    # tampered after checksumming: the event is kept, flagged corrupt
    corrupt = rng.random() < CORRUPT
    counts["corrupt"] += corrupt
    # a required param goes missing: the request is dropped
    drop = rng.choice([1, 4]) if rng.random() < INCOMPLETE else None
    if drop is not None:
        counts["incomplete"] += 1
        eid = None
    agent, agent_n = traffic.agent()
    return {
        "params": params,
        "payload": payload,
        "corrupt": corrupt,
        "drop": drop,
        "eid": eid,
        "iso": _iso(ts + rng.randrange(5, 400)),
        "host": f"10.{p % 256}.{(p >> 8) % 256}.{rng.randrange(1, 255)}",
        "agent": agent,
        "agent_n": agent_n,
    }


def _request_line(req: dict, pass_ix: int) -> str:
    """One access-log line; one-off values get the pass number."""
    payload = req["payload"]
    if payload.get("ref") is not None:
        payload = dict(payload, ref=f"p{pass_ix}x{payload['ref']}")
    params = req["params"] + [("u", _mincode(payload))]
    x = _checksum(params)
    if req["corrupt"]:
        params[14] = ("t", params[14][1] + "X")
    if req["drop"] is not None:
        del params[req["drop"]]
    qs = "&".join(f"{k}={_uri_component(v)}" for k, v in params) + f"&x={x}"
    agent = req["agent"]
    if req["agent_n"] is not None:
        agent += f" uniq/{pass_ix}x{req['agent_n']}"
    return f'{req["iso"]} {req["host"]} "GET /csc-event?{qs} HTTP/1.1" "{agent}"\n'


def _iso(ms: int) -> str:
    import datetime as dt

    t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}+00:00"


def render_json_stream(
    seed: int,
    out_dir: str,
    rate: int,
    seconds: float,
    file_interval_s: float,
) -> list[dict]:
    """Pre-render the open-loop JSON request stream.

    One file holds the requests due in one ``file_interval_s`` slot;
    each file is written under ``out_dir`` and is later renamed into
    the stream's source directory when its slot is due.  Every request
    carries its scheduled send offset (``due_ms``, relative to the
    stream start) in its parameters; ``RESEND`` of them repeat an
    earlier event of the same party inside the watermark.

    Returns one entry per file: ``{"name", "due_s", "events":
    [(party_id, event_id, due_ms, is_resend), ...]}``.
    """
    rng = random.Random(seed)
    traffic = _Traffic(rng)
    os.makedirs(out_dir, exist_ok=True)
    n_files = int(round(seconds / file_interval_s))
    per_file = int(round(rate * file_interval_s))
    manifest = []
    recent: list[tuple] = []
    seq = 0
    for f in range(n_files):
        due_s = f * file_interval_s
        lines = []
        events = []
        for j in range(per_file):
            due_ms = int(round((due_s + j / rate) * 1000))
            if recent and rng.random() < RESEND:
                body_obj, party, eid, host = recent[rng.randrange(len(recent))]
                body_obj = dict(body_obj)
                body_obj["parameters"] = dict(body_obj["parameters"], due_ms=due_ms, resend=True)
                resend = True
            else:
                p = traffic.party()
                tag = traffic.party_tags[p]
                party = _ident(EPOCH_MS - 86_400_000, tag)
                eid = f"j{base36(seq)}x{tag[:4]}"
                seq += 1
                payload = traffic.payload()
                body_obj = {
                    "session_id": _ident(EPOCH_MS, tag + "s"),
                    "event_id": eid,
                    "event_type": rng.choice(_EVENT_TYPES),
                    "is_new_party": False,
                    "is_new_session": rng.random() < 0.1,
                    "client_timestamp_iso": _iso(EPOCH_MS + due_ms),
                    "parameters": {"page": payload["pg"], "item": payload["item"], "due_ms": due_ms},
                }
                host = f"10.0.{p % 256}.{p >> 8}"
                recent.append((body_obj, party, eid, host))
                if len(recent) > 2_000:
                    recent.pop(0)
                resend = False
            lines.append(
                json.dumps(
                    {
                        "party_id_param": party,
                        "remote_host": host,
                        "body": json.dumps(body_obj, separators=(",", ":")),
                    },
                    separators=(",", ":"),
                )
            )
            events.append((party, eid, due_ms, resend))
        name = f"req-{f:05d}.json"
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        manifest.append({"name": name, "due_s": due_s, "events": events})
    return manifest


def render_events_table(seed: int, path: str, n_rows: int, n_users: int) -> None:
    """The analyst-side ``events`` table (event_id, ts, user_id,
    event_type, value, props) in the layout ``session.load_table``
    reads, with Zipf user activity and 30-minute-plus gaps so sessions
    split."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    users = (rng.zipf(1.3, n_rows) - 1) % n_users
    gaps_us = rng.exponential(400e6, n_rows).astype("int64")
    gaps_us[rng.random(n_rows) < 0.05] += 2_400_000_000
    ts_us = EPOCH_MS * 1000 + np.cumsum(gaps_us) // max(1, n_users // 50)
    types = np.array(["view", "click", "purchase", "error", "scroll"])
    etype = types[rng.choice(5, n_rows, p=[0.55, 0.25, 0.08, 0.04, 0.08])]
    value = np.round(rng.gamma(2.0, 3.0, n_rows), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]
    tbl = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype="int64")),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(users.astype("int64")),
            "event_type": pa.array(etype),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
