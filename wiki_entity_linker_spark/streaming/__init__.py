from wiki_entity_linker_spark.streaming.events import (  # noqa: F401
    incremental_block_stream,
    windowed_event_counts,
)
from wiki_entity_linker_spark.streaming.appends import (  # noqa: F401
    streaming_curation_append,
    streaming_er_append,
)
