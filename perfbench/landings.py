"""Seeded daily landings for the ``scd2_pipeline`` workload, and the SCD2
invariants checked after every load.

A :class:`Landings` object holds the "true" employee table and advances it
one day at a time: 5 % of salaries change, 1 % of employees leave and 1 %
join.  Each day's ``Employee.csv`` is that table with about 0.5 % of rows
made dirty in ways staging drops or nulls (an unparseable ``emp_id`` drops
the row; an unparseable ``salary`` or ``hire_date`` becomes null; padded
names are trimmed), so every quality gate still passes.
``Department.csv`` is the same every day.

The generator also knows the clean snapshot staging must produce, so the
curated table can be checked without Spark: :func:`check_scd2` reads the
curated parquet with pyarrow and compares it with :meth:`Landings.expected`.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

FIRST_LOAD = dt.date(2024, 1, 1)
OPEN_END = dt.date(9999, 12, 31)

#: share of employees whose salary changes, who leave, who join, per day
CHANGE_SHARE = 0.05
LEAVE_SHARE = 0.01
JOIN_SHARE = 0.01
#: share of landed rows made dirty, split evenly over the kinds below
DIRTY_SHARE = 0.005
DIRTY_KINDS = ("bad_id", "bad_salary", "bad_date", "padded_name")

_LOCATIONS = ("nyc", "sfo", "lon", "ber", "tok", "syd", "sao", "tor", "par", "sin")
SNAPSHOT_COLS = ["emp_id", "emp_name", "dept_id", "dept_name", "location", "salary", "hire_date"]


class Landings:
    """Day-by-day landing generator; the same seed gives the same days."""

    def __init__(self, seed: int, n_employees: int, n_departments: int):
        self.rng = np.random.default_rng(seed)
        self.day = 0
        self.departments = pd.DataFrame({
            "dept_id": np.arange(1, n_departments + 1, dtype=np.int64),
            "dept_name": [f"dept_{i:03d}" for i in range(1, n_departments + 1)],
            "location": [_LOCATIONS[i % len(_LOCATIONS)] for i in range(n_departments)],
        })
        self.next_id = 1
        self.employees = self._new_employees(n_employees)
        self.dirty = pd.Series([], dtype=object)

    def _new_employees(self, n: int) -> pd.DataFrame:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        hire = np.datetime64("2000-01-01") + self.rng.integers(0, 8766, n).astype("timedelta64[D]")
        return pd.DataFrame({
            "emp_id": ids,
            "emp_name": [f"Emp {i}" for i in ids],
            "dept_id": self.rng.integers(1, len(self.departments) + 1, n).astype(np.int64),
            "salary": self.rng.integers(3_000_000, 20_000_000, n) / 100.0,
            "hire_date": pd.to_datetime(hire).date,
        })

    @property
    def load_date(self) -> dt.date:
        return FIRST_LOAD + dt.timedelta(days=self.day - 1)

    def advance(self) -> None:
        """Move to the next day: the first call lands the initial table,
        later calls apply one day of salary changes, leavers and joiners."""
        self.day += 1
        if self.day > 1:
            emp = self.employees
            n = len(emp)
            pick = self.rng.permutation(n)
            n_change, n_leave = int(n * CHANGE_SHARE), int(n * LEAVE_SHARE)
            change = pick[:n_change]
            leave = pick[n_change:n_change + n_leave]
            sal = emp["salary"].to_numpy().copy()
            sal[change] = self.rng.integers(3_000_000, 20_000_000, n_change) / 100.0
            emp = emp.assign(salary=sal).drop(index=emp.index[leave])
            joiners = self._new_employees(int(n * JOIN_SHARE))
            self.employees = pd.concat([emp, joiners], ignore_index=True)
        n = len(self.employees)
        kinds = np.full(n, None, dtype=object)
        n_dirty = int(n * DIRTY_SHARE)
        rows = self.rng.choice(n, n_dirty, replace=False)
        kinds[rows] = [DIRTY_KINDS[i % len(DIRTY_KINDS)] for i in range(n_dirty)]
        self.dirty = pd.Series(kinds, index=self.employees.index)

    def write(self, landing_dir: str) -> int:
        """Write today's Employee.csv and Department.csv; returns the
        number of bytes landed."""
        os.makedirs(landing_dir, exist_ok=True)
        emp = self.employees
        out = pd.DataFrame({
            "emp_id": emp["emp_id"].astype(str),
            "emp_name": emp["emp_name"],
            "dept_id": emp["dept_id"].astype(str),
            "salary": emp["salary"].map("{:.2f}".format),
            "hire_date": emp["hire_date"].astype(str),
        })
        d = self.dirty
        out.loc[d == "bad_id", "emp_id"] = "id-" + out.loc[d == "bad_id", "emp_id"]
        out.loc[d == "bad_salary", "salary"] = "n/a"
        out.loc[d == "bad_date", "hire_date"] = "someday"
        out.loc[d == "padded_name", "emp_name"] = "  " + out.loc[d == "padded_name", "emp_name"] + " "
        paths = (os.path.join(landing_dir, "Employee.csv"), os.path.join(landing_dir, "Department.csv"))
        out.to_csv(paths[0], index=False)
        self.departments.to_csv(paths[1], index=False)
        return sum(os.path.getsize(p) for p in paths)

    def expected(self) -> pd.DataFrame:
        """The clean employee⋈department snapshot staging should produce
        today, one row per surviving ``emp_id``."""
        emp = self.employees[self.dirty != "bad_id"].copy()
        d = self.dirty[emp.index]
        emp["salary"] = emp["salary"].where(d != "bad_salary", np.nan)
        emp["hire_date"] = emp["hire_date"].where(d != "bad_date", None)
        return emp.merge(self.departments, on="dept_id", how="left")[SNAPSHOT_COLS]

    @property
    def landed_rows(self) -> int:
        return len(self.employees) + len(self.departments)


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df[SNAPSHOT_COLS].sort_values("emp_id").reset_index(drop=True)
    out["hire_date"] = pd.to_datetime(out["hire_date"])
    out["salary"] = out["salary"].astype(float)
    return out


def _same_rows(a: pd.DataFrame, b: pd.DataFrame) -> pd.Series:
    """Row-wise equality of two aligned frames, nulls equal to nulls."""
    return ((a == b) | (a.isna() & b.isna())).all(axis=1)


def changed_keys(before: pd.DataFrame, after: pd.DataFrame) -> int:
    """Keys whose open version a load must close: present before and
    either gone or carrying different tracked values after."""
    b, a = _canonical(before).set_index("emp_id"), _canonical(after).set_index("emp_id")
    common = b.index.intersection(a.index)
    same = _same_rows(b.loc[common], a.loc[common])
    return int(len(b) - len(common) + (~same).sum())


def read_curated(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def check_scd2(curated: pd.DataFrame, expected: pd.DataFrame, load_date: dt.date,
               closed_expected: int) -> list[str]:
    """The SCD2 invariants after one load; returns the violations."""
    problems = []
    open_rows = curated[curated["is_current"]]
    if open_rows["emp_id"].duplicated().any():
        problems.append(f"{int(open_rows['emp_id'].duplicated().sum())} keys with >1 open version")
    if not (open_rows["effective_to"] == OPEN_END).all():
        problems.append("open version with effective_to != 9999-12-31")
    got, want = _canonical(open_rows), _canonical(expected)
    if len(got) != len(want) or not got["emp_id"].equals(want["emp_id"]):
        problems.append(f"current slice keys differ: {len(got)} open vs {len(want)} landed")
    elif not (same := _same_rows(got, want)).all():
        problems.append(f"current slice values differ on {int((~same).sum())} keys")
    closed = int((curated["effective_to"] == load_date).sum())
    if closed != closed_expected:
        problems.append(f"closed {closed} versions, generator changed {closed_expected}")
    return problems
