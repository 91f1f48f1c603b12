"""Seeded inputs the benchmark hands the program: Fluent Bit msgpack chunk
files and the search query mix.  Transcript tables come from the
package's own ``datagen.transcripts(seed=...)``.  The same seed always
gives the same bytes."""

from __future__ import annotations

import os
import random

from fluent_bit_clp_spark.sources.msgpack import encode_record

MSGPACK_LAYOUTS = ("v1_fixext", "v2_uint_ms", "v2_meta")
_LEVELS = ("DEBUG", "INFO", "INFO", "INFO", "WARN", "ERROR")
_SERVICES = ("ingest", "api", "scheduler", "uploader")
_REASONS = (
    "connection reset by peer",
    "upstream timeout exceeded",
    "disk quota reached",
    "certificate rotation in progress",
)
_STATICS = (
    "connection established successfully",
    "cache warmed and ready to serve traffic",
    "scheduler tick completed with no pending work",
    "configuration reloaded from disk",
    "heartbeat acknowledged by peer",
)


def _hex(rng: random.Random, n: int) -> str:
    return f"{rng.getrandbits(4 * n):0{n}x}"


def _fragment(rng: random.Random) -> str:
    k = rng.randrange(7)
    if k == 0:
        return (
            f"Task {rng.randrange(100000)} started by user {_hex(rng, 8)} "
            f"at attempt {rng.randrange(1000)}"
        )
    if k == 1:
        return (
            f"Uploaded chunk {rng.randrange(1000)} of {rng.randrange(100000)} "
            f"({rng.randrange(10000) / 100:.2f}%) to "
            f"/var/log/app-{rng.randrange(16)}.log"
        )
    if k == 2:
        return (
            f"latency_ms={rng.randrange(1000000) / 1000:.3f} "
            f"status={200 + rng.randrange(400)}"
        )
    if k == 3:
        return (
            f"Retrying container-{_hex(rng, 12)} after {rng.randrange(120)}s: "
            f"{rng.choice(_REASONS)}"
        )
    if k == 4:
        return (
            f"GET /api/v2/users/{rng.randrange(100000)}?page={rng.randrange(50)} "
            f"took {rng.randrange(1000000) / 1000:.3f} ms"
        )
    if k == 5:
        return (
            f"conn {_hex(rng, 8)} closed after {rng.randrange(100000) * 37} "
            f"bytes in {rng.randrange(10000) / 100:.2f} s"
        )
    return rng.choice(_STATICS)


def log_line(rng: random.Random, ts_ms: int) -> str:
    """One dense container log line: timestamp, level, source, then two to
    four message fragments (~150-300 bytes)."""
    sec, ms = divmod(ts_ms, 1000)
    head = (
        f"{sec}.{ms:03d} {rng.choice(_LEVELS)} "
        f"[{rng.choice(_SERVICES)}-{rng.randrange(8)}]"
    )
    body = "; ".join(_fragment(rng) for _ in range(rng.randint(2, 4)))
    return f"{head} {body}"


def write_msgpack_files(
    out_dir: str, seed: int, n_files: int, records_per_file: int
) -> dict[str, list[str]]:
    """Write ``n_files`` Fluent Bit chunk files of ``records_per_file``
    records each, every record in a seeded choice of the three wire
    layouts.  Returns file name -> the ``log`` text of each record, in
    order (what decoding must give back)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    expected: dict[str, list[str]] = {}
    base_ms = 1_767_225_600_000 + rng.randrange(86_400_000)
    for f in range(n_files):
        name = f"chunk-{f:04d}.msgpack"
        ts_ms = base_ms + f * 3_600_000
        texts, blobs = [], []
        for _ in range(records_per_file):
            ts_ms += rng.randrange(1, 2000)
            text = log_line(rng, ts_ms)
            record = {"log": text, "stream": rng.choice(("stdout", "stderr"))}
            blobs.append(encode_record(ts_ms, record, rng.choice(MSGPACK_LAYOUTS)))
            texts.append(text)
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(b"".join(blobs))
        expected[name] = texts
    return expected


QUERY_CLASSES = (
    "template_only",
    "dict_fragment",
    "encoded_numeric",
    "non_selective",
    "zero_hit",
    "multi",
)


def _query(rng: random.Random, cls: str) -> str | dict[str, str]:
    if cls == "template_only":
        return rng.choice(_STATICS)
    if cls == "dict_fragment":
        return (
            f"Retrying container-{_hex(rng, 1)}* after *s: "
            f"{rng.choice(_REASONS)}"
        )
    if cls == "encoded_numeric":
        return f"Task {rng.randrange(1, 1000)}* started by user *"
    if cls == "non_selective":
        return "GET /api/v2/users/* took * ms"
    if cls == "zero_hit":
        return rng.choice(
            (
                f"Task {rng.randrange(1, 1000)}* started by robot *",
                "Uploaded chunk * of * to /var/log/db-*.log",
                f"Retrying container-{_hex(rng, 2)}* after *s: disk on fire",
            )
        )
    return {
        "template": rng.choice(_STATICS),
        "numeric": f"Task {rng.randrange(1, 1000)}* started by user *",
        "conn": "conn * closed after * bytes in * s",
    }


def query_mix(seed: int, rounds: int) -> list[tuple[str, str | dict[str, str]]]:
    """``rounds`` rounds of (class, query); each round holds every class
    once in a seeded order, so any prefix of the sequence keeps the class
    proportions within one round of even."""
    rng = random.Random(seed)
    seq = []
    for _ in range(rounds):
        order = list(QUERY_CLASSES)
        rng.shuffle(order)
        seq.extend((cls, _query(rng, cls)) for cls in order)
    return seq
