from product_etl_spark.pipelines.ingest import run_ingest, seed_lang_table  # noqa: F401
from product_etl_spark.pipelines.maintenance import (  # noqa: F401
    cleanup_orphans,
    compact_table,
    consistency_report,
    find_orphans,
    fix_sku_dot_zero,
    relink_products_by_master_code,
    snapshot_table,
)
from product_etl_spark.pipelines.translation import (  # noqa: F401
    run_translation_sweep,
    translate_pending,
    untranslated_candidates,
)
from product_etl_spark.pipelines.verification import (  # noqa: F401
    assert_all,
    run_warehouse_checks,
)
