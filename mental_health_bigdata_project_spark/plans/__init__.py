"""Query registry: importing this package registers every query id.

``QUERIES`` maps operator ids from SURVEY.md §2 to Spark builders
``(spark, sf_dir) -> DataFrame``; ``ORACLES`` maps the oracle-checkable
subset to DuckDB-runnable ANSI SQL twins.  ``__spark_entry__.py`` simply
re-exports these.
"""

from .registry import ORACLES, QUERIES, query  # noqa: F401

# Side-effect imports: each module registers its queries.
from . import core  # noqa: F401,E402
from . import scalars  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import textops  # noqa: F401,E402
from . import similarity  # noqa: F401,E402
from . import stream_windows  # noqa: F401,E402
from . import multimodal  # noqa: F401,E402
from . import mllib  # noqa: F401,E402
from . import grouped  # noqa: F401,E402
from . import tpch_more  # noqa: F401,E402
from . import spark4  # noqa: F401,E402
from . import spark4_sources  # noqa: F401,E402
from . import udtf_udaf  # noqa: F401,E402
from . import quality  # noqa: F401,E402
from . import advanced  # noqa: F401,E402
from . import retrieval  # noqa: F401,E402
from . import sketches  # noqa: F401,E402
