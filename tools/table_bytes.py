"""Per-column storage of a ``KeyedTable``'s current snapshot, counted
from its parquet files with pyarrow (no Spark session is started).

    python tools/table_bytes.py PATH

Prints, per column, the compressed bytes, the bytes per stored row, the
encodings and the data page version (v1/v2), then how many of the
snapshot's files are sorted on the key columns, and the path of each
file that is not.  Last, the schema the commit doc records beside the
footers' physical types, and every file column whose physical type
disagrees with the recorded type or that the doc lacks.
"""

import os
import re
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

# A page header is a thrift-compact struct whose field 1 is the page
# type (i32): byte 0x15, then the zigzag varint of the type —
# DATA_PAGE (0) is 0x00, DATA_PAGE_V2 (3) is 0x06.
_PAGE_VERSION = {b"\x15\x00": "v1", b"\x15\x06": "v2"}


def file_layout(path: str, key_cols: list[str]) -> dict:
    """``rows``, ``sorted`` (rows ascending on *key_cols*) and, per
    column, ``bytes`` (compressed), ``encodings``, ``pages`` (data page
    versions) and ``dictionary`` (any chunk has a dictionary page)."""
    md = pq.ParquetFile(path).metadata
    cols: dict[str, dict] = {}
    with open(path, "rb") as f:
        for ch in (md.row_group(g).column(c)
                   for g in range(md.num_row_groups) for c in range(md.num_columns)):
            e = cols.setdefault(ch.path_in_schema, {
                "bytes": 0, "encodings": set(), "pages": set(), "dictionary": False})
            e["bytes"] += ch.total_compressed_size
            e["encodings"] |= set(ch.encodings)
            f.seek(ch.data_page_offset)
            e["pages"].add(_PAGE_VERSION.get(f.read(2), "?"))
            e["dictionary"] |= ch.has_dictionary_page
    keys = pq.read_table(path, columns=key_cols)
    order = pc.sort_indices(keys, sort_keys=[(k, "ascending") for k in key_cols],
                            null_placement="at_start")
    return {"rows": md.num_rows, "sorted": order.to_pylist() == list(range(len(keys))),
            "columns": cols}


# The parquet physical types Spark writes a primitive column of each
# type as (timestamps as INT96 or INT64, by spark.sql.parquet.outputTimestampType).
_PHYSICAL = {
    "boolean": {"BOOLEAN"}, "byte": {"INT32"}, "short": {"INT32"},
    "integer": {"INT32"}, "date": {"INT32"}, "long": {"INT64"},
    "timestamp": {"INT64", "INT96"}, "timestamp_ntz": {"INT64"},
    "float": {"FLOAT"}, "double": {"DOUBLE"}, "string": {"BYTE_ARRAY"},
    "binary": {"BYTE_ARRAY"},
}


def _physical(spark_type) -> set[str] | None:
    """Physical types a top-level column of *spark_type* (its JSON
    form) may be stored as; None for a nested type (not checked)."""
    m = re.fullmatch(r"decimal\((\d+),\s*\d+\)", str(spark_type))
    if m:
        p = int(m.group(1))
        return {"INT32"} if p <= 9 else {"INT64"} if p <= 18 else {"FIXED_LEN_BYTE_ARRAY"}
    return _PHYSICAL.get(spark_type) if isinstance(spark_type, str) else None


def footer_types(path: str) -> dict[str, str]:
    """Top-level column → physical type in the footer of *path*
    (nested columns map to ``nested``)."""
    schema = pq.ParquetFile(path).schema
    out: dict[str, str] = {}
    for i in range(len(schema)):
        col = schema.column(i)
        top = col.path.split(".")[0]
        out[top] = col.physical_type if col.path == top else "nested"
    return out


def schema_problems(schema: dict | None, files: list[str]) -> list[str]:
    """Every column of *files* whose physical type disagrees with
    *schema* (a commit doc's ``schema``) or that *schema* lacks."""
    if schema is None:
        return []
    doc = {f["name"]: f["type"] for f in schema["fields"]}
    out = []
    for path in files:
        for name, phys in footer_types(path).items():
            if name not in doc:
                out.append(f"not in the doc: {name} ({phys}) in {path}")
            elif phys not in (_physical(doc[name]) or {phys}):
                out.append(f"type mismatch: {name} is {doc[name]} in the doc, "
                           f"{phys} in {path}")
    return out


def main(path: str) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cass_cdc_pg_spark.plans.keyed_table import KeyedTable

    t = KeyedTable(None, path, [])  # opens the commit doc only
    doc = t._doc()
    files = sorted(
        os.path.join(d, f)
        for b, e in doc["buckets"].items()
        for d in t._bucket_dirs(b, e)
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )
    layouts = [file_layout(f, t.key_cols) for f in files]
    rows = sum(x["rows"] for x in layouts)
    total: dict[str, dict] = {}
    for name, e in ((n, e) for x in layouts for n, e in x["columns"].items()):
        s = total.setdefault(name, {"bytes": 0, "encodings": set(), "pages": set()})
        s["bytes"] += e["bytes"]
        s["encodings"] |= e["encodings"]
        s["pages"] |= e["pages"]
    print(f"{'column':<28} {'bytes':>10} {'bytes/row':>9}  pages  encodings")
    for name, s in total.items():
        print(f"{name:<28} {s['bytes']:>10} {s['bytes'] / max(rows, 1):>9.2f}  "
              f"{'/'.join(sorted(s['pages'])):<5}  {', '.join(sorted(s['encodings']))}")
    print(f"{'total':<28} {sum(s['bytes'] for s in total.values()):>10}")
    print(f"rows {rows}, files {len(files)}, key-sorted on {t.key_cols}: "
          f"{sum(x['sorted'] for x in layouts)} of {len(files)}")
    for f in (f for f, x in zip(files, layouts) if not x["sorted"]):
        print(f"not key-sorted: {f}")

    seen: dict[str, set] = {}
    for f in files:
        for name, phys in footer_types(f).items():
            seen.setdefault(name, set()).add(phys)
    recorded = doc.get("schema")
    print(f"\n{'column':<28} {'recorded type':<20} footer physical types")
    if recorded is None:
        print("(no recorded schema: a doc written before schemas were recorded)")
    types = {f["name"]: f["type"] for f in (recorded or {"fields": []})["fields"]}
    for name in [*types, *(n for n in seen if n not in types)]:
        rec = types.get(name, "-")
        rec = rec if isinstance(rec, str) else rec["type"]  # nested: its kind
        print(f"{name:<28} {rec:<20} {', '.join(sorted(seen.get(name, ()))) or '-'}")
    problems = schema_problems(recorded, files)
    for p in problems:
        print(p)
    print(f"schema check: {len(problems)} problem(s)")


if __name__ == "__main__":
    main(sys.argv[1])
