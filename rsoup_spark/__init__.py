import logging

# library logger: silent unless the application configures logging
logging.getLogger("rsoup_spark").addHandler(logging.NullHandler())
