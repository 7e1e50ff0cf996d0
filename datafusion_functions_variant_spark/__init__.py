# Every reused Spark Python worker that unpickles one of this package's
# functions imports it here, so this is where the worker-side zipimport
# guard is installed (a no-op in the driver and on Python >= 3.13) and
# the worker's import-time heap is frozen (a no-op in the driver).
from datafusion_functions_variant_spark.vendor import freeze_worker_heap, install_zipimport_guard

install_zipimport_guard()
freeze_worker_heap()
