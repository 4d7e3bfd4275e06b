"""Show that every correctness check catches a corrupted output.

    python3 perfbench/mutate.py --workload pipeline --seed 1

Runs the workload as ``run.py`` does, checks the real outputs, then for
each check corrupts a copy of the output it reads (inside the run's own
scratch directory), runs the workload's checks on the copy and reports
whether they failed. Exits 0 only if the real outputs pass and every
corrupted copy is caught.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import run


def _rewrite(directory: str, edit) -> None:
    """Apply ``edit(table) -> table | None`` to the first parquet file it
    changes (``None``: nothing to change in this file)."""
    import pyarrow.parquet as pq

    for f in sorted(Path(directory).rglob("*.parquet")):
        t = edit(pq.read_table(f))
        if t is not None:
            pq.write_table(t, f)
            return
    raise RuntimeError(f"nothing to corrupt under {directory}")


def _bump(col: str, by: float, conv_id: str | None = None):
    """Add ``by`` to ``col`` in the first row (of ``conv_id``, if given)."""
    import pyarrow as pa

    def edit(t):
        keys = t["conv_id"].to_pylist() if conv_id else [None] * t.num_rows
        rows = [i for i, k in enumerate(keys) if k == conv_id]
        if not rows:
            return None
        vals = t[col].to_pylist()
        vals[rows[0]] += by
        return t.set_column(t.schema.get_field_index(col), col,
                            pa.array(vals, t.schema.field(col).type))

    return edit


def _drop_row(t):
    return t.slice(1) if t.num_rows else None


def _pipeline_mutations(b):
    def read_value(b):
        op, conv, t0, t1, pdf = b.reads[0]
        pdf = pdf.copy()
        pdf.loc[pdf.index[len(pdf) // 2], "value"] += 1.0
        b.reads = [(op, conv, t0, t1, pdf)] + b.reads[1:]

    def extra_lineage_row(b):
        f = sorted(Path(b.out, "_lineage").glob("*.parquet"))[0]
        shutil.copy(f, f.with_name("extra-" + f.name))

    return {
        "tier_1m sum": lambda b: _rewrite(f"{b.out}/tier_1m", _bump("sum", 1.0)),
        "tier_1h cnt": lambda b: _rewrite(f"{b.out}/tier_1h", _bump("cnt", 1)),
        "chunk dropped": lambda b: _rewrite(f"{b.out}/chunks", _drop_row),
        "compacted chunk dropped": lambda b: _rewrite(f"{b.out}/chunks_7d", _drop_row),
        "range read value": read_value,
        "resume lineage row": extra_lineage_row,
    }


def _operators_mutations(b):
    def corrupt(name, edit):
        def apply(b):
            i = next(i for i, o in enumerate(b.outputs) if o[2] == name)
            op, kind, _, path = b.outputs[i]
            copy = f"{path}-mutant"
            shutil.copytree(path, copy)
            _rewrite(copy, edit)
            b.outputs[i] = (op, kind, name, copy)
        return apply

    muts = {
        "kalman level": corrupt("temporal.kalman_filter", _bump("kf_level", 1e-3, "mega")),
        "holt level": corrupt("temporal.holt_linear", _bump("holt_level", 1e-3, "mega")),
        "chunked kalman gain": corrupt("chunked.kalman_filter_chunked", _bump("kf_gain", 1e-12)),
        "lttb point dropped": corrupt("rolling.lttb_downsample", _drop_row),
    }
    import operators

    for entry in operators.ENTRIES:
        muts[f"{entry} row dropped"] = corrupt(entry, _drop_row)
    return muts


def check_with_mutants(b, module) -> None:
    module.check(b)
    clean = not b.ops.failed
    print(f"real outputs pass: {clean}", file=sys.stderr)
    muts = (_pipeline_mutations if module.__name__ == "pipeline"
            else _operators_mutations)(b)
    caught = {}
    for name, mutate in muts.items():
        saved_out, saved_reads = getattr(b, "out", None), getattr(b, "reads", None)
        saved_outputs = list(getattr(b, "outputs", []))
        saved_ops = b.ops
        if saved_out:
            b.out = f"{saved_out}-mutant"
            shutil.copytree(saved_out, b.out)
        b.ops = run.Ops()
        b.ops.attempted = list(saved_ops.attempted)
        mutate(b)
        module.check(b)
        caught[name] = bool(b.ops.failed)
        print(f"{name}: {'caught' if caught[name] else 'MISSED'}  {b.ops.problems}",
              file=sys.stderr)
        if saved_out:
            shutil.rmtree(b.out)
            b.out, b.reads = saved_out, saved_reads
        b.outputs = saved_outputs
        b.ops = saved_ops
    if not clean or not all(caught.values()):
        raise SystemExit(1)


if __name__ == "__main__":
    sys.exit(run.main(sys.argv[1:] + ["--seconds", "1", "--trace", "0"],
                      check=check_with_mutants))
