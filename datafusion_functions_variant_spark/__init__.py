# Every reused Spark Python worker that unpickles one of this package's
# functions imports it here, so this is where the worker-side zipimport
# guard is installed (a no-op in the driver and on Python >= 3.13).
from datafusion_functions_variant_spark.vendor import install_zipimport_guard

install_zipimport_guard()
