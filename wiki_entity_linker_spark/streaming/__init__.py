from wiki_entity_linker_spark.streaming.events import windowed_event_counts  # noqa: F401
from wiki_entity_linker_spark.streaming.appends import (  # noqa: F401
    streaming_curation_append,
    streaming_er_append,
)
