from jsonschema_validator_spark.streaming.validate import (  # noqa: F401
    stream_partials,
    stream_validate,
    streaming_enum_rate,
    streaming_dedup,
)
from jsonschema_validator_spark.streaming.stateful import (  # noqa: F401
    conversation_completeness,
)
