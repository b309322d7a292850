-- The six foreign keys of the employees tables (the csv_load command's
-- AFTER LOAD DO list), added once the rows are in.
alter table dept_manager add foreign key (emp_no) references employees (emp_no);
alter table dept_manager add foreign key (dept_no) references departments (dept_no);
alter table dept_emp add foreign key (emp_no) references employees (emp_no);
alter table dept_emp add foreign key (dept_no) references departments (dept_no);
alter table titles add foreign key (emp_no) references employees (emp_no);
alter table salaries add foreign key (emp_no) references employees (emp_no);
