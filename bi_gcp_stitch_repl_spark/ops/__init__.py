from .asof import asof_join
from .clean import null_if_in
from .history import append_only_delta, latest_per_key
from .keys import carry_forward_keys
from .layout import zorder_key, zorder_layout
from .normalize import explode_with_parent, flatten_structs, pad_columns
from .rangejoin import band_join
from .validate import Expectations

__all__ = [
    "append_only_delta",
    "asof_join",
    "band_join",
    "carry_forward_keys",
    "Expectations",
    "explode_with_parent",
    "flatten_structs",
    "latest_per_key",
    "null_if_in",
    "pad_columns",
    "zorder_key",
    "zorder_layout",
]
