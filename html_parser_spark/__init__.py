# Installed on import so every Python worker that unpickles one of the
# package's UDFs stops re-reading pyspark.zip at the start of each task.
from . import _zipimport_cache  # noqa: F401
