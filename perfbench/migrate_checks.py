"""Output checks for the `migrate` workload.

Against the generator's `expected.json` and the pinned target schemas:
  - each target table has exactly the predicted number of rows;
  - each foreign key has exactly the predicted number of orphan rows
    (non-null values with no parent; 0 where the pipeline joins or
    semi-joins the parent);
  - each table's column names and types match `migrate_schema.json`;
  - every non-null `object_key` of `resolutions` is a stored file whose
    md5 matches the key and the source payload.
Also returns a content digest per table, excluding the load-time columns
(`current_timestamp()` feeds created_at/updated_at/disabled_at defaults).
"""
import hashlib
import json
import os

import pyarrow.parquet as pq

LOAD_TIME_COLS = {"created_at", "updated_at", "disabled_at"}


def read(out_dir, table, columns=None):
    return pq.ParquetDataset(os.path.join(out_dir, f"{table}.parquet")).read(columns=columns)


def schema_of(table):
    return [[f.name, str(f.type)] for f in table.schema]


def digest(table):
    cols = sorted(c for c in table.column_names if c not in LOAD_TIME_COLS)
    rows = sorted(repr(r) for r in zip(*(table.column(c).to_pylist() for c in cols)))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def check(out_dir, expected, schema_file):
    with open(schema_file) as f:
        pinned = json.load(f)
    tables, digests, rows_written = {}, {}, 0
    loaded = {}
    for name, want in expected["rows"].items():
        try:
            t = read(out_dir, name)
        except Exception as e:  # a missing or unreadable table fails its check
            tables[name] = f"unreadable: {type(e).__name__}: {e}"
            continue
        loaded[name] = t
        rows_written += t.num_rows
        digests[name] = digest(t)
        problems = []
        if t.num_rows != want:
            problems.append(f"rows {t.num_rows} != expected {want}")
        if schema_of(t) != pinned.get(name):
            problems.append(f"schema {schema_of(t)} != pinned {pinned.get(name)}")
        tables[name] = "; ".join(problems) or None
    fk = {}
    for key, want in expected["orphans"].items():
        child, parent = key.split("->")
        ct, cc = child.split(".")
        pt, pc = parent.split(".")
        if ct not in loaded or pt not in loaded:
            fk[key] = "table missing"
            continue
        parents = set(loaded[pt].column(pc).to_pylist())
        got = sum(1 for v in loaded[ct].column(cc).to_pylist()
                  if v is not None and v not in parents)
        fk[key] = None if got == want else f"{got} orphans != expected {want}"
        if fk[key]:
            tables[ct] = "; ".join(filter(None, [tables.get(ct), f"FK {key}: {fk[key]}"]))
    objects = None
    if "resolutions" in loaded:
        res = loaded["resolutions"]
        keyed = [(i, k) for i, k in zip(res.column("id").to_pylist(),
                                         res.column("object_key").to_pylist()) if k is not None]
        bad = []
        for rid, key in keyed:
            path = os.path.join(out_dir, "_objects", "resolutions", key)
            want = expected["attachments"].get(rid)
            try:
                with open(path, "rb") as f:
                    got = hashlib.md5(f.read()).hexdigest()
            except OSError:
                got = None
            if got is None or got != want or key.split("/")[1] != want:
                bad.append(rid)
        if len(keyed) != len(expected["attachments"]):
            bad.append(f"{len(keyed)} object keys != {len(expected['attachments'])} attachments")
        objects = f"{len(bad)} bad attachments, e.g. {bad[:3]}" if bad else None
        if objects:
            tables["resolutions"] = "; ".join(filter(None, [tables.get("resolutions"), objects]))
    return {"tables": tables, "foreign_keys": fk, "objects": objects, "digests": digests,
            "rows_written": rows_written}


def pin_schemas(out_dir, names, schema_file):
    """Write the pinned schema file from a reviewed migration output."""
    with open(schema_file, "w") as f:
        json.dump({n: schema_of(read(out_dir, n)) for n in sorted(names)}, f, indent=1)
