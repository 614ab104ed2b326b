#!/usr/bin/env python3
"""Read JVM-written Arrow IPC feeds with pyarrow and print what a Python
DataLoader sees, as one JSON document.

Each argument is either a single stream file (`graft.io.ArrowIpc.writeStream`)
or a sharded feed directory (`ArrowIpc.writeStreamSharded`: every
`shard-NNNNN.arrows` in it, in name order). Per stream the output holds the
schema (type, nullability and list-child name at every depth), the row count,
the record-batch sizes and every column's values in schema order. Binary
values print as hex, non-finite floats as strings, so two runs diff cleanly.

Runs offline with pyarrow 16; no other dependency.

Usage: python3 tools/arrow_pyarrow_check.py <stream-file-or-shard-dir>...
"""
import json
import math
import os
import re
import sys

import pyarrow as pa
import pyarrow.ipc as ipc


def field_json(f: pa.Field) -> dict:
    out = {"name": f.name, "type": str(f.type), "nullable": f.nullable}
    if pa.types.is_list(f.type) or pa.types.is_large_list(f.type):
        out["child"] = field_json(f.type.value_field)
    return out


def value_json(v):
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, float) and not math.isfinite(v):
        return str(v)
    if isinstance(v, list):
        return [value_json(x) for x in v]
    return v


def read_stream(path: str) -> dict:
    with open(path, "rb") as fh:
        reader = ipc.open_stream(fh)
        batches = list(reader)
        schema = reader.schema
    table = pa.Table.from_batches(batches, schema=schema)
    return {
        "schema": [field_json(f) for f in schema],
        "rows": table.num_rows,
        "batches": [b.num_rows for b in batches],
        "values": [[value_json(v) for v in col.to_pylist()] for col in table.columns],
    }


def read_target(path: str) -> dict:
    if not os.path.isdir(path):
        return read_stream(path)
    shards = sorted(n for n in os.listdir(path) if re.fullmatch(r"shard-\d{5}\.arrows", n))
    if not shards:
        sys.exit(f"no shard-*.arrows files under {path}")
    return {"shards": {n: read_stream(os.path.join(path, n)) for n in shards}}


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    print(json.dumps({os.path.basename(p.rstrip("/")): read_target(p) for p in sys.argv[1:]},
                     indent=1, ensure_ascii=False))


if __name__ == "__main__":
    main()
