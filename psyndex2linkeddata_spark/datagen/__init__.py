"""Deterministic synthetic inputs (seed=42): CC-style pages
(`pages.py`), the linking authority tables (`authorities.py`) and the
record shapes of the sub-converter inputs (`journals.py`,
`psychauthors.py`, `reduced_persons.py`). The fixture corpora of the
sub-converter gates are generated under tests/ (`fixture_*.py`)."""
from psyndex2linkeddata_spark.datagen.pages import (  # noqa: F401
    make_records,
    pages_rows_from_records,
    write_pages_parquet,
)
from psyndex2linkeddata_spark.datagen.authorities import (  # noqa: F401
    write_authority_parquets,
)
