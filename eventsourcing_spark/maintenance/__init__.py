from eventsourcing_spark.maintenance.forget import forget  # noqa: F401
from eventsourcing_spark.maintenance.migration import migrate_in_place  # noqa: F401
from eventsourcing_spark.maintenance.compaction import compact_events  # noqa: F401
from eventsourcing_spark.maintenance.vacuum import (  # noqa: F401
    vacuum_migrated,
    vacuum_store,
)
