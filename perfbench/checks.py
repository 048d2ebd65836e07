"""Correctness gate: every operation's output is checked outside the
timed region.

- A corpus entry with a DuckDB oracle is compared with it under the
  ``dbtwiz_spark.testing.compare_entry`` rule (columns sorted by name,
  rows sorted, exact values, int-vs-float type skew rejected).
- An entry without an oracle (the approximate dedup and ANN paths) must
  reproduce a certified fingerprint: its output the first time its
  quality certificate passed on this engine tree and these inputs.
- Every later output of an entry must match the fingerprint of the
  entry's first, checked, output in the same run.

The oracle answers and certified fingerprints depend only on the
generated tables (and, for certificates, the engine sources), so they
are cached under the checkout's ``.perfbench_cache`` directory: the
expensive recursive graph oracles run once per checkout, not per run.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle

import pandas as pd

from dbtwiz_spark.ops.registry import CORPUS
from dbtwiz_spark.testing import _cell_eq, _normalize, compare_entry, duckdb_con

# entry without an oracle -> the corpus entry certifying its quality
CERTIFICATES = {
    "ext-dedup-near": "ext-dedup-near-recall",
    "ext-ann-ivf": "ext-ann-ivf-recall",
}


def fingerprint(pdf: pd.DataFrame) -> str:
    return hashlib.sha1(_normalize(pdf.copy()).to_csv(index=False).encode()).hexdigest()


def frame_diff(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when equal under the compare_entry rule, else a reason."""
    s, o = _normalize(spark_pdf.copy()), _normalize(oracle_pdf.copy())
    if list(s.columns) != list(o.columns):
        return f"columns differ: {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"row counts differ: {len(s)} vs {len(o)}"
    for c in s.columns:
        bad = sum(not _cell_eq(a, b) for a, b in zip(s[c], o[c]))
        if bad:
            return f"column {c}: {bad} cells differ"
    return None


def corrupt(pdf: pd.DataFrame) -> pd.DataFrame:
    """A copy with one cell changed (or one row dropped when no numeric
    column exists): the gate's own test input."""
    out = pdf.copy()
    num = [c for c in out.columns if pd.api.types.is_numeric_dtype(out[c])
           and not pd.api.types.is_bool_dtype(out[c])]
    if len(out) and num:
        out.loc[out.index[0], num[0]] = out[num[0]].iloc[0] + 1
    elif len(out):
        out = out.iloc[1:]
    else:
        out = pd.DataFrame({"corrupted": [1]})
    return out


class Gate:
    def __init__(self, spark, sf_dir: str, cache_dir: str, engine_hash: str,
                 corrupt_entry: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.engine_hash = engine_hash
        self.corrupt_entry = corrupt_entry
        self.refs: dict[str, str] = {}
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    @property
    def con(self):
        if self._con is None:
            self._con = duckdb_con(self.sf_dir)
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None

    def _oracle(self, name: str) -> pd.DataFrame:
        sql = CORPUS[name].oracle
        key = hashlib.sha1(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"oracle-{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        df = self.con.execute(sql).df()
        _atomic_write(path, pickle.dumps(df))
        return df

    def _certified(self, name: str, clean_fp: str, got_fp: str) -> str | None:
        """``got_fp`` against the certified fingerprint. Without one yet,
        the quality certificate runs and, when it passes, certifies
        ``clean_fp``: the engine's own output, never a corrupted copy."""
        path = os.path.join(self.cache_dir, f"cert-{name}-{self.engine_hash}.json")
        if not os.path.exists(path):
            res = compare_entry(self.spark, CERTIFICATES[name], self.sf_dir, self.con)
            if not res.ok:
                return f"certificate {CERTIFICATES[name]} failed: {res.detail}"
            _atomic_write(path, json.dumps({"fingerprint": clean_fp}).encode())
        with open(path) as f:
            want = json.load(f)["fingerprint"]
        if got_fp != want:
            return f"output differs from the certified output of {CERTIFICATES[name]}"
        return None

    def check(self, name: str, pdf: pd.DataFrame) -> str | None:
        """Check one output of corpus entry ``name``; None when correct.
        With ``corrupt_entry`` the compared value is a corrupted copy."""
        got = corrupt(pdf) if name == self.corrupt_entry else pdf
        fp = fingerprint(got)
        if name in self.refs:
            return None if fp == self.refs[name] else "output differs from the run's first output"
        if CORPUS[name].oracle is not None:
            err = frame_diff(got, self._oracle(name))
        else:
            err = self._certified(name, fingerprint(pdf), fp)
        if err is None:
            self.refs[name] = fp
        return err


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def tables_equal(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, digits: int = 4) -> str | None:
    """Warehouse-table comparison: same columns, same rows, floats equal
    after rounding (the two engines sum doubles in different orders)."""

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df.reindex(sorted(df.columns), axis=1).copy()
        for c in df.columns:
            if pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].round(digits)
            elif pd.api.types.is_bool_dtype(df[c]):
                df[c] = df[c].astype(bool)
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
            else:
                df[c] = df[c].astype(object).where(df[c].notna(), None).map(
                    lambda v: None if v is None else str(v))
        return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)

    a, b = canon(spark_pdf), canon(duck_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"row counts differ: {len(a)} vs {len(b)}"
    for c in a.columns:
        if not a[c].equals(b[c]):
            return f"column {c} differs"
    return None
