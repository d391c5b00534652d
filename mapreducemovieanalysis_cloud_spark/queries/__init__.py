"""Query modules: each registers its queries through ``registry.query``
and is imported by ``registry._load_all``."""
