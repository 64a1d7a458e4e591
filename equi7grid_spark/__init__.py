# Every Spark Python worker imports this package when it unpickles an
# engine UDF, so the backport applies to every later task of that worker.
from equi7grid_spark import _zipimport

_zipimport.install()
