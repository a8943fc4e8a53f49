from importtoneo4j_spark.sources.tables import TableStore  # noqa: F401
from importtoneo4j_spark.sources.transcripts import (  # noqa: F401
    read_transcripts,
    split_valid_rejects,
)
