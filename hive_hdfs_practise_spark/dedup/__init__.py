from .minhash import lsh_bands  # noqa: F401
