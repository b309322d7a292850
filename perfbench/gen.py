"""Seeded employees-shaped corpus for the load workloads.

Reproduces the per-table counts and value shapes of the repository's
EmployeesGen (the MySQL `employees` sample database: departments 9,
employees 300,024, dept_emp 331,603, dept_manager 24, titles 443,308,
salaries 2,844,047 in four files), scaled by `scale`, with every random
choice drawn from `random.Random(seed)`. `titles` additionally carries
about one injected bad row per 2,000 good rows, listed in the manifest:
a varchar(50) overflow, an impossible date, or a non-integer emp_no.
"""
import json
import os
import random

FIRST = ["Georgi", "Bezalel", "Parto", "Chirstian", "Kyoichi", "Anneke",
         "Tzvetan", "Saniya", "Sumant", "Duangkaew", "Mary", "Patricio",
         "Eberhardt", "Berni", "Guoxiang", "Kazuhito"]
LAST = ["Facello", "Simmel", "Bamford", "Koblick", "Maliniak", "Preusig",
        "Zielinski", "Kalloufi", "Peac", "Piveteau", "Sluis", "Bridgland",
        "Terkki", "Genin", "Nooteboom", "Cappelletti"]
TITLES = ["Senior Engineer", "Staff", "Engineer", "Senior Staff",
          "Assistant Engineer", "Technique Leader", "Manager"]
DEPTS = ["Marketing", "Finance", "Human Resources", "Production",
         "Development", "Quality Management", "Sales", "Research",
         "Customer Service"]

# full-scale counts of EmployeesGen
EMPLOYEES = 300024
SECOND_DEPT = 31579
SECOND_TITLE = 143284
EXTRA_SALARY = 143831
BAD_EVERY = 2000
BAD_KINDS = ("overflow", "bad_date", "bad_emp_no")

TABLES = ["departments", "employees", "dept_manager", "dept_emp", "titles",
          "salaries"]
CSV_FILES = {"departments": ["departments.csv"],
             "employees": ["employees.csv"],
             "dept_manager": ["dept_manager.csv"],
             "dept_emp": ["dept_emp.csv"],
             "titles": ["titles.csv"],
             "salaries": ["salaries%d.csv" % i for i in range(1, 5)]}


def _date(y, m, d):
    return "%04d-%02d-%02d" % (y, m + 1, d + 1)


def counts(scale):
    """Per-table good-row counts at `scale` (1.0 = EmployeesGen's)."""
    emp = max(100, round(EMPLOYEES * scale))
    second_dept = round(SECOND_DEPT * scale)
    second_title = round(SECOND_TITLE * scale)
    extra_salary = round(EXTRA_SALARY * scale)
    return {"departments": 9, "employees": emp, "dept_manager": 24,
            "dept_emp": emp + second_dept, "titles": emp + second_title,
            "salaries": emp * 9 + extra_salary}


def generate(out_dir, seed, scale):
    """Write the corpus to `out_dir`; return the manifest dict:
    {"counts": good rows per table, "rejects": injected titles rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    ri = rnd.randrange
    c = counts(scale)
    n_emp = c["employees"]
    second_dept = c["dept_emp"] - n_emp
    second_title = c["titles"] - n_emp
    extra_salary = c["salaries"] - 9 * n_emp

    dep = ["d%03d,%s\n" % (i + 1, DEPTS[i]) for i in range(9)]
    # 24 distinct managers inside the employee range (FK to employees)
    dm = ["%d,d%03d,%s,9999-01-01\n" % (
        10001 + (i * 1237) % n_emp, i % 9 + 1,
        _date(1985 + i % 10, i % 12, i % 28)) for i in range(24)]
    emp, de, ti = [], [], []
    sal = [[], [], [], []]
    rejects = []
    for i in range(n_emp):
        emp_no = 10001 + i
        birth = _date(1952 + ri(14), ri(12), ri(28))
        hire_y = 1985 + ri(15)
        hm, hd = ri(12), ri(28)
        hire = _date(hire_y, hm, hd)
        emp.append("%d,%s,%s,%s,%s,%s\n" % (
            emp_no, birth, FIRST[ri(16)], LAST[ri(16)],
            "M" if ri(2) else "F", hire))
        dept = ri(9) + 1
        de.append("%d,d%03d,%s,9999-01-01\n" % (emp_no, dept, hire))
        if i < second_dept:
            d2 = i % 8 + (2 if dept == i % 8 + 1 else 1)
            de.append("%d,d%03d,%s,9999-01-01\n" % (
                emp_no, d2, _date(hire_y + 3, i % 12, i % 28)))
        t1 = TITLES[ri(7)]
        ti.append("%d,%s,%s,9999-01-01\n" % (emp_no, t1, hire))
        if i < second_title:
            ti.append("%d,%s II,%s,9999-01-01\n" % (
                emp_no, t1, _date(hire_y + 5, i % 12, i % 28)))
        if len(ti) // BAD_EVERY > len(rejects):
            kind = BAD_KINDS[ri(3)]
            if kind == "overflow":
                row = [str(emp_no), "Principal " * 6 + str(ri(1000)),
                       "2001-01-01", "9999-01-01"]
            elif kind == "bad_date":
                row = [str(emp_no), "Auditor", "2001-02-%d" % (30 + ri(2)),
                       "9999-01-01"]
            else:
                row = ["%da%d" % (ri(900) + 100, ri(10)), "Auditor",
                       "2001-01-01", "9999-01-01"]
            ti.append(",".join(row) + "\n")
            rejects.append(row)
        raises = 9 + (1 if i < extra_salary else 0)
        w = sal[i & 3]
        base = 38000 + ri(42000)
        for r in range(raises):
            to = ("9999-01-01" if r == raises - 1
                  else _date(hire_y + r + 1, i % 12, i % 28))
            w.append("%d,%d,%s,%s\n" % (
                emp_no, base + r * (500 + ri(3000)),
                _date(hire_y + r, i % 12, i % 28), to))
    files = {"departments.csv": dep, "dept_manager.csv": dm,
             "employees.csv": emp, "dept_emp.csv": de, "titles.csv": ti}
    for k in range(4):
        files["salaries%d.csv" % (k + 1)] = sal[k]
    for name, lines in files.items():
        with open(os.path.join(out_dir, name), "w") as f:
            f.writelines(lines)
    manifest = {"seed": seed, "scale": scale, "counts": c,
                "rejects": rejects}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def write_clean(src_dir, out_dir, manifest):
    """Copy of the corpus without the injected rows: the input of the
    PG-native reference load and of the pg_migrate source database."""
    os.makedirs(out_dir, exist_ok=True)
    bad = {",".join(r) + "\n" for r in manifest["rejects"]}
    for files in CSV_FILES.values():
        for name in files:
            with open(os.path.join(src_dir, name)) as f:
                lines = f.readlines()
            if name == "titles.csv":
                lines = [x for x in lines if x not in bad]
            with open(os.path.join(out_dir, name), "w") as f:
                f.writelines(lines)


def write_empty(out_dir):
    """Zero-row CSVs with the same names: the set-up runs' input."""
    os.makedirs(out_dir, exist_ok=True)
    for files in CSV_FILES.values():
        for name in files:
            open(os.path.join(out_dir, name), "w").close()
