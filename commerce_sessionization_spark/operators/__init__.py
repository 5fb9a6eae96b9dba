"""Operators, one module per family; import each from its defining module.

The package itself exposes only the reference's two entry points: EP2
``divide_file`` (raw CSV → hourly ``logs/``) and EP1 ``sessionize_hour``
(one incremental hour → ``sessions/``). Importing it loads just those two
modules and what they need, so a pandas worker that unpickles a function of
``operators.sessions`` does not import every operator family.
"""

from commerce_sessionization_spark.operators.ingest import divide_file
from commerce_sessionization_spark.operators.sessionize import sessionize_hour

__all__ = ["divide_file", "sessionize_hour"]
