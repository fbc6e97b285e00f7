from wiki_entity_linker_spark.plans.checkpoint import StageManager  # noqa: F401
from wiki_entity_linker_spark.plans.er_pipeline import run_er_pipeline  # noqa: F401
from wiki_entity_linker_spark.plans.curation import run_curation_pipeline  # noqa: F401
from wiki_entity_linker_spark.plans.curation_incremental import (  # noqa: F401
    compact_curation_chain,
    run_curation_increment,
)
