"""Column-function library: built-in Spark expressions (SQL strings and
Columns) for the SQL-expressible pieces — cell encode, quality words, lon
wrap, geodesy."""

from raster_processor_spark.functions.cells import (  # noqa: F401
    quad_parent_col,
)
from raster_processor_spark.functions.quality import (  # noqa: F401
    summary_qual_col,
)
from raster_processor_spark.functions.geodesy import (  # noqa: F401
    lon_360to180_col,
)
