from hbase_snapshot_spark.sources.tools import (
    copy_table,
    export_table,
    import_cells,
    import_tsv,
    melt,
    bulk_load,
    unmelt,
)
from hbase_snapshot_spark.sources.warc import (
    read_warc,
    warc_records_to_documents,
    warc_to_documents,
)
