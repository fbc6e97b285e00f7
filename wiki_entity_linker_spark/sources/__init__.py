from wiki_entity_linker_spark.sources.predictions import (  # noqa: F401
    MENTION_SCHEMA,
    read_predictions,
    with_line_index,
)
from wiki_entity_linker_spark.sources.tables import (  # noqa: F401
    ARTICLE_SCHEMA,
    filter_qid_rows,
    normalize_sparql_values,
    read_articles_jsonl,
    read_tsv,
    write_tsv,
)
