from .dictionary import (  # noqa: F401
    NULL_CODE,
    build_dictionary,
    encode_with_dictionary,
)
from .factorize import factorization_spec  # noqa: F401
