"""Inputs of the benchmark, staged from the fixed seed-42 test tables in
``perfbench/data/sf0.01`` (the repo's TPC-H-shaped test data at scale
factor 0.01, see ``TESTDATA.md``): the CSV copy of lineitem that the
ingest op converts, and the event files the streaming op replays.

Every staged directory is keyed on all of its parameters (source dir,
row and file counts, schema), so a changed input can never reuse a stale
copy.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _key(**params) -> str:
    blob = json.dumps(params, sort_keys=True, default=str).encode()
    return hashlib.sha1(blob).hexdigest()[:16]


def _publish(tmp: str, final: str) -> str:
    """Move a fully written staging dir into place (atomic rename)."""
    if os.path.isdir(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)
    return final


def stage_lineitem_csv(work: str, sf_dir: str, parts: int) -> tuple[str, int, int]:
    """Export lineitem as a ``lineitem.csv/`` directory of ``parts`` CSV
    files with a header and ``l_shipdate`` as ``yyyy-MM-dd`` text, the form
    the ingest's date detection looks for. Returns (path, rows, bytes)."""
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    i = li.schema.get_field_index("l_shipdate")
    li = li.set_column(i, "l_shipdate", pc.strftime(li.column(i), format="%Y-%m-%d"))
    key = _key(kind="csv", src=sf_dir, rows=li.num_rows, parts=parts, schema=str(li.schema))
    final = os.path.join(work, "csv", key, "lineitem.csv")
    if not os.path.isdir(final):
        tmp = final + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        opts = pacsv.WriteOptions(quoting_style="needed")
        step = -(-li.num_rows // parts)
        for p in range(parts):
            pacsv.write_csv(li.slice(p * step, step), os.path.join(tmp, f"part-{p:05d}.csv"), opts)
        _publish(tmp, final)
    nbytes = sum(os.path.getsize(os.path.join(final, f)) for f in os.listdir(final))
    return final, li.num_rows, nbytes


def stage_event_files(work: str, sf_dir: str, files: int) -> tuple[str, int]:
    """Split events into ``files`` ts-ordered Parquet files with ``ts``
    stored as a UTC-adjusted TIMESTAMP (watermarks reject TIMESTAMP_NTZ).
    Returns (dir, rows)."""
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("ts")
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", ev.column(i).cast(pa.timestamp("us", tz="UTC")))
    key = _key(kind="stream", src=sf_dir, rows=ev.num_rows, files=files, schema=str(ev.schema))
    final = os.path.join(work, "stream", key)
    if not os.path.isdir(final):
        tmp = final + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        step = -(-ev.num_rows // files)
        for p in range(files):
            pq.write_table(ev.slice(p * step, step), os.path.join(tmp, f"part-{p:05d}.parquet"))
        _publish(tmp, final)
    return final, ev.num_rows
