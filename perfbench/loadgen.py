"""Seeded load generator for the pipeline workload, run in its own process.

The engine only ever sees the files this module writes: Kinesis-envelope
Parquet files (one column ``kinesis_data``, base64 of a JSON audit
record).  Everything is a pure function of ``--seed``::

    python3 -m perfbench.loadgen --src D --stage D --seed N --files F --records R

Each file is written under a temporary name in ``--stage`` and renamed
into ``--src``, so the file source never lists a partial file.
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import random
from datetime import datetime, timedelta

# Shares of the record mix (each drawn independently per record, except
# that poison and duplicate records replace a fresh record).
SHARES = {
    "poison": 0.02,            # valid base64, invalid JSON -> dropped (R7)
    "duplicate_id": 0.05,      # redelivered copy of an earlier record
    "empty_ip": 0.10,          # "ip": "" -> removed (R5)
    "preset_timestamp": 0.05,  # record already carries @timestamp -> replaced
    "extra_fields": 0.10,      # unknown fields -> Splunk passthrough only
}

EPOCH = datetime(2026, 2, 18)
METHODS = ("GET", "POST", "PUT", "DELETE")
KINDS = ("user", "robot", "org")
AUTH = ("oauth", "credentials", "oauth2", "anonymous")
AGENTS = ("Mozilla/5.0", "curl/8.5.0", 'Go-http-client/1.1 "probe"', "python-requests/2.31")


def record_id(seed: int, file_index: int, i: int) -> str:
    return f"{seed:x}-{file_index:05d}-{i:04d}"


def file_of(rid: str) -> int:
    """File index encoded in a record id (inverse of :func:`record_id`)."""
    return int(rid.split("-")[1])


def _record(rng: random.Random, seed: int, file_index: int, i: int) -> dict:
    user = rng.randrange(5000)
    ts = EPOCH + timedelta(microseconds=rng.randrange(3 * 86_400_000_000))
    rec = {
        "datetime": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
        "random_id": record_id(seed, file_index, i),
        "kind_id": rng.randrange(40),
        "account_id": 10_000 + user,
        "performer_id": 50_000 + rng.randrange(20_000),
        "repository_id": rng.randrange(1_000_000),
        "ip": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}",
        "metadata": {"oauth_token_id": str(rng.randrange(10_000))},
        "request_url": f"/api/v1/repository/org{user % 97}/repo{rng.randrange(500)}",
        "http_method": rng.choice(METHODS),
        "performer_username": f"user_{user}",
        "performer_email": f"user_{user}@example.com",
        "performer_kind": rng.choice(KINDS),
        "auth_type": rng.choice(AUTH),
        "user_agent": rng.choice(AGENTS),
        "request_id": f"req-{rng.getrandbits(48):012x}",
        "x_forwarded_for": f"192.168.{rng.randrange(256)}.{rng.randrange(1, 255)}",
    }
    if rng.random() < SHARES["empty_ip"]:
        rec["ip"] = ""
    if rng.random() < SHARES["preset_timestamp"]:
        rec["@timestamp"] = "1970-01-01T00:00:00"
    if rng.random() < SHARES["extra_fields"]:
        rec["geo"] = {"country": rng.choice(("DE", "US", "JP")), "asn": rng.randrange(65_000)}
        rec["tags"] = ["audit", f"shard-{rng.randrange(8)}"]
    return rec


def file_payloads(seed: int, file_index: int, n: int, previous: list[str]) -> list[str]:
    """The JSON (or poison) text of every record in one file.

    A duplicate re-sends, byte for byte, a record of this file or of the
    ``previous`` file: an at-least-once redelivery.
    """
    rng = random.Random(seed * 1_000_003 + file_index)
    out: list[str] = []
    for i in range(n):
        u = rng.random()
        if u < SHARES["poison"]:
            out.append(f"<<poison {record_id(seed, file_index, i)}>>")
            continue
        if u < SHARES["poison"] + SHARES["duplicate_id"] and (out or previous):
            j = rng.randrange(len(out) + len(previous))
            dup = out[j] if j < len(out) else previous[j - len(out)]
            if not is_poison(dup):
                out.append(dup)
                continue
        out.append(json.dumps(_record(rng, seed, file_index, i)))
    return out


def iter_files(seed: int, first: int, files: int, n: int):
    """Yield ``(file_index, payloads)`` for ``files`` consecutive files."""
    previous: list[str] = []
    for k in range(first, first + files):
        payloads = file_payloads(seed, k, n, previous)
        yield k, payloads
        previous = payloads


def is_poison(payload: str) -> bool:
    return payload.startswith("<<")


def _write_envelope(stage: str, k: int, payloads: list[str]) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    data = [base64.b64encode(p.encode()).decode() for p in payloads]
    tmp = os.path.join(stage, f"part-{k:05d}.parquet")
    pq.write_table(pa.table({"kinesis_data": pa.array(data, pa.string())}), tmp)
    return tmp


def _commit(tmp: str, src: str) -> None:
    os.rename(tmp, os.path.join(src, os.path.basename(tmp)))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="perfbench.loadgen")
    p.add_argument("--src", required=True)
    p.add_argument("--stage", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--records", type=int, required=True)
    a = p.parse_args(argv)
    for k, payloads in iter_files(a.seed, 0, a.files, a.records):
        _commit(_write_envelope(a.stage, k, payloads), a.src)


if __name__ == "__main__":
    main()
