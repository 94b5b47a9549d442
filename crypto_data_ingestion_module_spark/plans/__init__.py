"""Query plans: the oracle-checked registry lives in
``crypto_data_ingestion_module_spark.plans.queries``.

(Deliberately no re-exports: the submodule name ``queries`` would collide
with its same-named function.)
"""

# Load the registry whenever any submodule is imported: ``queries``
# imports the other plan modules half-way through building QUERY_SPECS,
# and they read rows registered before that point, so importing one of
# them first must still run ``queries`` first.
from crypto_data_ingestion_module_spark.plans import queries as _queries  # noqa: E402,F401
