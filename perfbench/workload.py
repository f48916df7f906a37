"""Seeded inputs for the benchmark: the seed events table, the append
request streams, the read request streams, and the answers every read
must return.

Everything here is a pure function of the seed, so the same seed gives
byte-identical requests in the same order. The answers are computed
from the generated table with numpy only, independent of the program
under test.
"""

from __future__ import annotations

import base64
import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STORE = "bench"
N_EVENTS = 100_000  # sf0.1 events
N_USERS = 1_500
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
DAYS = 30

# Append mix, per block of 20 requests of one client: 18 fresh-tag
# appends (200 with fact ids), 1 append whose fail-if query matches a
# seeded tag (409), 1 retry of an earlier idempotency key (empty 200).
APPEND_BLOCK = 20
# Read mix: every client repeats this round, each read kind once. No
# measured DCB read mix exists to weight the kinds by, so they weigh the
# same.
POINT_KINDS = ("by_id", "by_tags", "by_subject")
SCAN_KINDS = ("tag_query", "time_range", "replay")
READ_ROUND = ("by_id", "tag_query", "by_tags", "time_range", "by_subject", "replay")
REPLAY_BACK = 5_000  # replay cursor sits about this many facts before head
ZIPF_S = 1.1  # subject skew of the read mix


def _rng(seed: int, *stream: object) -> random.Random:
    return random.Random(":".join(str(x) for x in (seed,) + stream))


# -- seed events ------------------------------------------------------------


def make_events(seed: int, n: int = N_EVENTS) -> pa.Table:
    """The sf0.1 ``events`` shape: event_id, ts (UTC micros, ascending
    with event_id), user_id, event_type, value, props."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, DAYS * 86_400 * 10**6, n, dtype=np.int64))
    ts += int(EPOCH.timestamp()) * 10**6
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": pa.array(types),
            "value": pa.array(np.round(rng.uniform(0.0, 560.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_events(seed: int, path: str) -> None:
    pq.write_table(make_events(seed), path)


# -- append requests --------------------------------------------------------


@dataclass(frozen=True)
class AppendRequest:
    kind: str  # "fresh" | "conflict" | "retry"
    body: bytes  # the POST body, byte-identical for a given seed
    subject: str  # subject of the fact a fresh append creates
    method = "POST"
    path = f"/v1/stores/{STORE}/facts"


def _append_body(fact: dict, fail_if_tags: dict, key: str) -> bytes:
    # the k6 single_append_with_condition shape: one fact, a
    # tagQueryBased condition with one tagOnly item, an idempotency key
    return json.dumps(
        {
            "facts": [fact],
            "condition": {
                "type": "tagQueryBased",
                "failIfEventsMatch": {
                    "queryItems": [{"type": "tagOnly", "tags": fail_if_tags}]
                },
            },
            "idempotencyKey": key,
        },
        sort_keys=True,
    ).encode()


def append_requests(seed: int, client: int):
    """Endless request stream of one append client."""
    rng = _rng(seed, "append", client)
    fresh: list[AppendRequest] = []
    i = 0
    while True:
        conflict_at, retry_at = rng.sample(range(1, APPEND_BLOCK), 2)
        for slot in range(APPEND_BLOCK):
            key = "%032x" % rng.getrandbits(128)
            if slot == retry_at:
                yield AppendRequest("retry", rng.choice(fresh).body, "")
                continue
            subject = f"order/{client}-{i}"
            user = str(rng.randrange(N_USERS))
            fact = {
                "type": "OrderPlaced",
                "subject": subject,
                "payload": {
                    "data": base64.b64encode(
                        json.dumps({"client": client, "n": i, "amount": rng.randrange(10_000)}).encode()
                    ).decode(),
                    "format": "json",
                },
                "tags": {"order": f"{client}-{i}-{key[:8]}", "user": user},
            }
            if slot == conflict_at:
                # seeded users hold ~67 facts each: the query matches
                req = AppendRequest("conflict", _append_body(fact, {"user": user}, key), "")
            else:
                req = AppendRequest("fresh", _append_body(fact, {"order": fact["tags"]["order"]}, key), subject)
                fresh.append(req)
            i += 1
            yield req


# -- read requests ----------------------------------------------------------


@dataclass(frozen=True)
class ReadRequest:
    kind: str
    method: str
    path: str
    body: bytes | None
    expect: tuple  # fact ids in the expected order; for by_id, the fact id


class ReadModel:
    """Answers of every read, from the generated table alone."""

    def __init__(self, events: pa.Table):
        self.n = events.num_rows
        self.user = events["user_id"].to_numpy()
        self.type = np.asarray(events["event_type"].to_pylist())
        self.ts_us = events["ts"].cast(pa.int64()).to_numpy()
        self.value = events["value"].to_numpy()
        self.props = events["props"].to_pylist()
        order = np.argsort(self.user, kind="stable")
        bounds = np.searchsorted(self.user[order], np.arange(N_USERS + 1))
        self._by_user = [order[bounds[u]:bounds[u + 1]] for u in range(N_USERS)]

    def of_user(self, u: int) -> np.ndarray:
        return self._by_user[u]

    def fact(self, k: int) -> dict:
        """The fields a by-id read must return for seeded event ``k``."""
        ts = EPOCH + timedelta(microseconds=int(self.ts_us[k]) - int(EPOCH.timestamp()) * 10**6)
        return {
            "id": f"event:{k}",
            "type": str(self.type[k]),
            "subject": f"user:{int(self.user[k])}",
            "tags": {"event_type": str(self.type[k]), "user": str(int(self.user[k]))},
            "payload": {"value": float(self.value[k]), "props": self.props[k]},
            "appendedAt": ts,
        }


def _ids(idx) -> tuple:
    return tuple(f"event:{int(k)}" for k in idx)


def _zipf_users(rng: random.Random) -> tuple[list[int], list[float]]:
    users = list(range(N_USERS))
    rng.shuffle(users)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(N_USERS)]
    return users, weights


def read_requests(seed: int, client: int, model: ReadModel):
    """Endless request stream of one read client: ``READ_ROUND`` over and
    over, client 1 half a round behind client 0, so a run's mix barely
    depends on where it stops. The seed draws the ids, users and days;
    users follow a fixed Zipf skew."""
    users, weights = _zipf_users(_rng(seed, "users"))
    rng = _rng(seed, "read", client)

    def user() -> int:
        return rng.choices(users, weights)[0]

    shift = client * len(READ_ROUND) // 2
    order = READ_ROUND[shift:] + READ_ROUND[:shift]
    while True:
        for kind in order:
            if kind == "by_id":
                k = rng.randrange(model.n)
                yield ReadRequest(kind, "GET", f"/v1/stores/{STORE}/facts/event:{k}", None, (f"event:{k}",))
            elif kind == "by_tags":
                u = user()
                yield ReadRequest(
                    kind, "GET", f"/v1/stores/{STORE}/facts?tag=user={u}&limit=10", None,
                    _ids(model.of_user(u)[:10]),
                )
            elif kind == "by_subject":
                u = user()
                yield ReadRequest(
                    kind, "GET",
                    f"/v1/stores/{STORE}/subjects/user:{u}/facts?limit=10&direction=backward", None,
                    _ids(model.of_user(u)[::-1][:10]),
                )
            elif kind == "tag_query":
                u1, u2 = user(), user()
                t = rng.choice(EVENT_TYPES)
                items = [
                    {"type": "tagOnly", "tags": {"user": str(u1), "event_type": t}},
                    {"type": "tagOnly", "tags": {"user": str(u2)}},
                ]
                a = model.of_user(u1)
                hit = np.union1d(a[model.type[a] == t], model.of_user(u2))
                yield ReadRequest(
                    kind, "POST", f"/v1/stores/{STORE}/facts/query",
                    json.dumps({"queryItems": items}, sort_keys=True).encode(), _ids(hit),
                )
            elif kind == "time_range":
                d = rng.randrange(DAYS - 1)
                lo, hi = EPOCH + timedelta(days=d), EPOCH + timedelta(days=d + 1)
                lo_us, hi_us = (int(x.timestamp()) * 10**6 for x in (lo, hi))
                hit = np.nonzero((model.ts_us >= lo_us) & (model.ts_us < hi_us))[0][:100]
                fmt = "%Y-%m-%dT%H:%M:%SZ"
                yield ReadRequest(
                    kind, "GET",
                    f"/v1/stores/{STORE}/facts?from={lo.strftime(fmt)}&to={hi.strftime(fmt)}&limit=100",
                    None, _ids(hit),
                )
            else:
                after = model.n - REPLAY_BACK - rng.randrange(500)
                yield ReadRequest(
                    kind, "GET", f"/v1/stores/{STORE}/facts/replay?after=event:{after}", None,
                    _ids(range(after + 1, model.n)),
                )
