"""Project-1 batch ETL (SURVEY.md §2 #22-#26; pdf p.3-6).

The reference's sibling project: CSV employee-salary records ->
filter/transform -> Kafka -> per-department running salary totals.
Batch and streaming share these transforms (streaming/stateful.py's
``run_stateful_totals`` applies the same aggregation in update mode);
the golden-totals workload (EMS 3,779,570 / CIT 9,102,142 / ECC
2,042,698, pdf p.7) is reproduced shape-for-shape in tests.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

#: pdf p.3: "only ECC, CIT and EMS department employees"
DEPARTMENTS = ("ECC", "CIT", "EMS")

#: pdf p.3: "employees hired in 2010 or later"
MIN_HIRE_YEAR = 2010


def salary_etl(
    df: DataFrame,
    departments: Sequence[str] = DEPARTMENTS,
    min_hire_year: int = MIN_HIRE_YEAR,
    salary_col: str = "salary",
    dept_col: str = "department",
    hire_col: str = "hire_date",
) -> DataFrame:
    """The Project-1 transform chain as one declarative plan:

    #23 IN-list filter on department, #25 hire-year filter, #24 floor
    the salary. Filters are plain predicates (pushed to the scan);
    floor is a codegen'd scalar — the whole chain is a map-only pass.
    """
    return (
        df.filter(F.col(dept_col).isin(*departments))
        .filter(F.year(F.col(hire_col)) >= F.lit(min_hire_year))
        .withColumn(salary_col, F.floor(F.col(salary_col)).cast("long"))
    )


def department_totals(
    df: DataFrame,
    salary_col: str = "salary",
    dept_col: str = "department",
) -> DataFrame:
    """#26: per-department salary totals.

    The reference accumulates per *message* via Postgres upsert
    (`ON CONFLICT DO UPDATE SET total_salary = total_salary + x`,
    pdf p.6) — order-dependent and wrong under redelivery. A grouped
    sum over the log is the order-independent statement of the same
    quantity (map-side partial aggregation; one shuffle of one row per
    department per partition).
    """
    return df.groupBy(dept_col).agg(
        F.sum(F.col(salary_col)).cast("long").alias("total_salary")
    )
