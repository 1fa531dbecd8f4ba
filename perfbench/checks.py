"""Output checks. Each returns the input rows (turns) whose output is
missing or wrong, which feeds ``failed`` and ``correct_frac``.

Every row is checked against facts the benchmark knows independently
of the program (the generator's expected text, input lengths, planted
clusters); a seeded sample is also compared with the program's own
in-process kernel, field by field.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEYS = ["conv_id", "turn_idx"]
ASCII_WS = "[ \t\n\r\f\x0b]+"


def read_output(out_dir: str) -> pa.Table:
    """Spark's part files in name order, so equal jobs give equal
    tables row for row."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    return pa.concat_tables(pq.read_table(f) for f in files)


def _align(out: pa.Table, inp: pa.Table):
    """(out rows in input-row order, failed input rows) when every input
    key appears exactly once in ``out``; otherwise (None, failed rows),
    where a turn is failed if its key is missing or repeated."""
    inp_keys = inp.select(KEYS).append_column(
        "_row", pa.array(range(inp.num_rows), pa.int64()))
    out_keys = out.select(KEYS).append_column(
        "_pos", pa.array(range(out.num_rows), pa.int64()))
    counts = out_keys.group_by(KEYS).aggregate([("_pos", "count"),
                                                ("_pos", "min")])
    j = inp_keys.join(counts, KEYS, join_type="left outer")
    rows = j.column("_row").to_numpy()
    n = j.column("_pos_count").to_numpy(zero_copy_only=False)
    bad = {int(r) for r, c in zip(rows, n) if c != 1}
    extra = out.num_rows - (inp.num_rows - len(bad))
    if bad or extra:
        return None, bad or set(range(inp.num_rows))
    order = pc.sort_indices(j.column("_row"))
    pos = pc.take(j.column("_pos_min"), order)
    return out.take(pos), set()


def _mismatch(a, b) -> set[int]:
    eq = pc.fill_null(pc.equal(a, b), False)
    return set(pc.indices_nonzero(pc.invert(eq)).to_pylist())


def extract(out: pa.Table, inp: pa.Table, expected: list[str],
            sample: list[int], kernel) -> set[int]:
    """extract_text output vs the generator's expected text (all rows),
    the input lengths (all rows) and the kernel (sampled rows)."""
    aligned, failed = _align(out, inp)
    if aligned is None:
        return failed
    exp = pa.array(expected, pa.string())
    trimmed = pc.utf8_trim(pc.replace_substring_regex(exp, ASCII_WS, " "),
                           " ")
    failed |= _mismatch(aligned.column("extracted_text"), exp)
    failed |= _mismatch(aligned.column("trimmed_text"), trimmed)
    failed |= _mismatch(aligned.column("n_chars_in"),
                        pc.cast(pc.utf8_length(inp.column("text")),
                                pa.int32()))
    texts = inp.column("text")
    ex = aligned.column("extracted_text")
    tr = aligned.column("trimmed_text")
    nev = aligned.column("n_events")
    for i in sample:
        want = kernel(texts[i].as_py())
        got = (ex[i].as_py(), tr[i].as_py(), nev[i].as_py())
        if got != want:
            failed.add(i)
    return failed


def events(out: pa.Table, inp: pa.Table, sample: list[int],
           kernel) -> set[int]:
    """events output: every turn present, ``seq`` dense from 0, the
    event texts tile the whole turn (all rows); sampled turns equal the
    kernel's ``project`` of every event."""
    per_turn = out.group_by(KEYS).aggregate(
        [("seq", "count"), ("seq", "min"), ("seq", "max"),
         ("length", "sum")])
    inp_keys = inp.select(KEYS).append_column(
        "_row", pa.array(range(inp.num_rows), pa.int64())).append_column(
        "_len", pc.cast(pc.utf8_length(inp.column("text")), pa.int64()))
    j = inp_keys.join(per_turn, KEYS, join_type="left outer")
    ok = pc.and_(
        pc.and_(pc.equal(j.column("seq_min"), 0),
                pc.equal(j.column("seq_count"),
                         pc.add(j.column("seq_max"), 1))),
        pc.equal(j.column("length_sum"), j.column("_len")))
    bad = pc.invert(pc.fill_null(ok, False))
    failed = set(pc.filter(j.column("_row"), bad).to_pylist())
    if pc.sum(j.column("seq_count")).as_py() != out.num_rows:
        # rows whose key is not an input turn
        failed |= set(range(inp.num_rows))
    if not sample:
        return failed
    want_keys = inp.select(KEYS).take(sample)
    mask = pc.is_in(
        pc.binary_join_element_wise(
            out.column("conv_id"), pc.cast(out.column("turn_idx"),
                                           pa.string()), "\x00"),
        value_set=pc.binary_join_element_wise(
            want_keys.column("conv_id"),
            pc.cast(want_keys.column("turn_idx"), pa.string()), "\x00"))
    rows: dict[tuple, list[dict]] = {}
    for r in out.filter(mask).to_pylist():
        rows.setdefault((r["conv_id"], r["turn_idx"]), []).append(r)
    texts = inp.column("text")
    for i, key in zip(sample, zip(want_keys.column("conv_id").to_pylist(),
                                  want_keys.column("turn_idx").to_pylist())):
        got = sorted(rows.get(key, []), key=lambda r: r["seq"])
        for r in got:
            r.pop("conv_id"), r.pop("turn_idx"), r.pop("seq")
            if r["attrs"] is not None:
                r["attrs"] = dict(r["attrs"])
        if got != kernel(texts[i].as_py()):
            failed.add(i)
    return failed


def same_as_first(first: pa.Table, out: pa.Table) -> int:
    """Turns whose rows differ from the first repeat's output (same job,
    same input: part files and rows must come back identical)."""
    if out.equals(first):
        return 0
    if out.schema != first.schema:
        return len(set(zip(*(out.column(k).to_pylist() for k in KEYS))))
    a, b = out.to_pylist(), first.to_pylist()
    a += [None] * (len(b) - len(a))
    b += [None] * (len(a) - len(b))
    return len({tuple((x or y)[k] for k in KEYS)
                for x, y in zip(a, b) if x != y})


def curation(out: pa.Table, report: dict, doc_ids: set[int],
             clusters: list[list[int]]) -> int:
    """Failed turns of one curation run: rows beyond or short of the
    report's last funnel count, rows that are not input documents or
    repeat one, and every planted-cluster member that survives beside
    another."""
    last = list(report["funnel"].values())[-1]
    failed = abs(out.num_rows - last)
    conv = [int(c) if c is not None and c.isdigit() else -1
            for c in out.column("conv_id").to_pylist()]
    failed += len(conv) - len(set(conv) & doc_ids)
    kept = set(conv)
    for members in clusters:
        failed += max(0, sum(1 for m in members if m in kept) - 1)
    return failed
