"""Seeded backlogs for the two streaming workloads.

Each backlog is `groups` file groups of `cores` parquet files. Group g
holds the records of trigger g, split over the files, and every
file of group g gets modification time base + g seconds. A file source
reading with `maxFilesPerTrigger = cores` therefore takes exactly one
group per trigger, in order, with one task per core.
"""
import os
import time
import zlib
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["error", "click", "view", "purchase"])  # "error" first
# cumulative shares of the event types above
EVENT_CUTS = [0.05, 0.50, 0.80]
MALFORMED_SHARE = 0.02
DUP_SHARE = 0.10
BASE_MS = 1_700_000_000_000
HEADER_TYPE = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))


def _write_groups(directory, table, groups, cores):
    """Group g gets rows g*rows .. (g+1)*rows of the table, split over
    `cores` files as evenly as the core count allows. The files are
    written on `cores` threads."""
    os.makedirs(directory, exist_ok=True)
    rows = table.num_rows // groups
    base = time.time() - groups - 10

    def write(g, f):
        lo, hi = g * rows + rows * f // cores, g * rows + rows * (f + 1) // cores
        path = os.path.join(directory, f"g{g:06d}-{f:03d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        os.utime(path, (base + g, base + g))

    with ThreadPoolExecutor(cores) as pool:
        list(pool.map(write, *zip(*[(g, f) for g in range(groups) for f in range(cores)])))


def _crc32_each(strings):
    """CRC-32 of every value of a string array, read from its buffers."""
    offsets = np.frombuffer(strings.buffers()[1], np.int32)[
        strings.offset:strings.offset + len(strings) + 1].tolist()
    data = memoryview(strings.buffers()[2] or b"")
    return [zlib.crc32(data[lo:hi]) for lo, hi in zip(offsets, offsets[1:])]


def kafka(directory, seed, groups, rows, cores):
    """Kafka-shaped JSON records; returns the expected outcome of each
    trigger as (passed, failed, sunk, sink_checksum, dlq_checksum).

    A sunk row is a well-formed, non-`error` event; its checksum term is the
    CRC-32 of `event_id|user_id|event_type|cents|kpipe|offset`. A malformed
    payload is a JSON document cut to 20 bytes; its DLQ checksum term is the
    CRC-32 of the payload."""
    rng = np.random.default_rng([seed, 1])
    n = groups * rows
    ids = np.arange(n)
    malformed = rng.random(n) < MALFORMED_SHARE
    users = rng.integers(0, 10_000, n)
    type_idx = np.searchsorted(EVENT_CUTS, rng.random(n), side="right")
    cents = rng.integers(0, 100_000, n)
    txt = {k: pa.array(v).cast(pa.string()) for k, v in
           (("id", ids), ("user", users), ("cents", cents))}
    txt["type"] = pa.array(EVENT_TYPES.tolist()).take(type_idx)
    value = pc.binary_join_element_wise(
        pa.array(cents // 100).cast(pa.string()),
        pc.utf8_lpad(pa.array(cents % 100).cast(pa.string()), 2, "0"), ".")
    doc = pc.binary_join_element_wise(
        '{"event_id":', txt["id"], ',"user_id":', txt["user"], ',"event_type":"', txt["type"],
        '","value":', value, "}", "")
    doc = pc.if_else(pa.array(malformed), pc.utf8_slice_codeunits(doc, 0, 20), doc)
    line = pc.binary_join_element_wise(txt["id"], txt["user"], txt["type"], txt["cents"],
                                       "kpipe", txt["id"], "|")
    sunk = ~malformed & (type_idx != 0)
    dlq_terms = np.zeros(n, np.int64)
    dlq_terms[malformed] = _crc32_each(doc.filter(pa.array(malformed)))
    sink_terms = np.zeros(n, np.int64)
    sink_terms[sunk] = _crc32_each(line.filter(pa.array(sunk)))
    table = pa.table({
        "key": txt["id"].cast(pa.binary()),
        "value": doc.cast(pa.binary()),
        "topic": pa.repeat("events", n),
        "partition": pa.array(ids % 8, pa.int32()),
        "offset": pa.array(ids, pa.int64()),
        "timestamp": pa.array((BASE_MS + ids) * 1000, pa.timestamp("us", tz="UTC")),
        "timestampType": pa.array(np.zeros(n), pa.int32()),
        "headers": pa.ListArray.from_arrays(pa.array(np.zeros(n + 1, np.int32)),
                                            pa.array([], HEADER_TYPE.value_type))})
    _write_groups(directory, table, groups, cores)
    expected = []
    for g in range(groups):
        s = slice(g * rows, (g + 1) * rows)
        expected.append((int((~malformed[s]).sum()), int(malformed[s].sum()), int(sunk[s].sum()),
                         int(sink_terms[s].sum()), int(dlq_terms[s].sum())))
    return expected


def documents(directory, seed, groups, rows, cores):
    """12-token documents over a 200-word vocabulary with event times 1 ms
    apart. A tenth of the documents (after the first 5,000) copy one of
    the 5,000 before them; half of those copies change one token."""
    rng = np.random.default_rng([seed, 2])
    n = groups * rows
    ids = np.arange(n)
    tokens = rng.integers(0, 200, (n, 12))
    dup = (rng.random(n) < DUP_SHARE) & (ids > 5000)
    src = ids - 1 - rng.integers(0, 5000, n)
    changed = rng.random(n) < 0.5
    pos = rng.integers(0, 12, n)
    repl = rng.integers(0, 200, n)
    for i in np.flatnonzero(dup):
        tokens[i] = tokens[src[i]]
        if changed[i]:
            tokens[i, pos[i]] = repl[i]
    words = pa.array([f"w{k}" for k in range(200)])
    texts = pc.binary_join_element_wise(*(words.take(tokens[:, j]) for j in range(12)), " ")
    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "ts": pa.array((BASE_MS + ids) * 1000, pa.timestamp("us", tz="UTC")),
        "text": texts})
    _write_groups(directory, table, groups, cores)
